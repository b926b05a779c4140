package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.IntegralDivide
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.storage.StorageLevel

/** Distributed TRAINING of the linear filter model that
  * [[Inference]] applies — the "fit a fastText-style quality
  * classifier on the corpus" step of a training-data pipeline, as
  * batch gradient descent over a binary logistic head.
  *
  * Determinism contract (the same engine-portable arithmetic as
  * [[Regression]] and the Lloyd means in `similarity.Similarity`):
  * every quantity is fixed-point BIGINT —
  *
  *   - features:  xs_d = floor(x_d · 1e6)
  *   - weights:   w_d at 1e-6 scale, initialized to 0
  *   - margin:    z_s = Σ_d xs_d · w_d            (1e-12 scale)
  *   - proba:     hard-sigmoid clamp(1/2 + z/4, 0, 1) at 1e-6 scale
  *                = clamp(500000 + ⌊z_s / 4e6⌋, 0, 1e6)
  *   - gradient:  g_d = Σ_rows (p_s − y_s) · xs_d (1e-12 scale)
  *   - update:    w_d ← w_d − ⌊lrNum · g_d / (lrDen · n · 1e6)⌋
  *
  * The hard sigmoid (rational, exactly representable) replaces exp()
  * deliberately: 1/(1+e^-z) is transcendental and engines disagree in
  * the last ulp, which would poison every downstream integer; the
  * clamped-linear form is the standard "hard sigmoid" surrogate and
  * keeps training bit-identical in any engine — the DuckDB oracle
  * replays all iterations exactly. All floor divisions are
  * pmod-subtract (floor semantics for positive divisors, portable —
  * truncating `div` would disagree on negative margins).
  *
  * Scale shape: the fixed-point feature projection materializes ONCE
  * (persisted MEMORY_AND_DISK — features are far smaller than source
  * docs); each GD iteration is one map-only scoring pass over it plus
  * one (dim)-keyed partial-aggregated gradient sum — dims groups on
  * the wire regardless of row count — and a dims-bounded driver
  * collect (a classifier head is KBs; the same bounded-collect budget
  * as the BPE top-pair and the Bloom build). Weights re-enter the
  * plan as literal arrays, the broadcast pattern without a broadcast.
  *
  * Overflow headroom is the caller's scale choice, as in
  * [[Regression]]: |x| ≤ 10^3 keeps per-row gradient terms ≤ 1e15,
  * so ≥ 9·10^3 rows per unit lrNum stay under 2^63; petabyte corpora
  * shard the gradient sum (hierarchical agg) or downscale lrNum.
  */
object Training {

  private val S = 1000000L // 1e-6 fixed-point scale

  /** Floor division a/b (b > 0) in exact long arithmetic: subtracting
    * the non-negative pmod makes a exactly divisible, so the
    * truncating IntegralDivide returns the floor quotient. Shared with
    * [[Evaluation]] and the fixed-point drift/recall faces in
    * `similarity`.
    */
  private[graft] def floorDivP(a: Column, b: Column): Column =
    Shim.column(new IntegralDivide(
      Shim.expression(a - pmod(a, b)), Shim.expression(b)))

  /** Fixed-point feature array: floor(x_d · 1e6) as BIGINT. */
  private def xsCol(emb: Column): Column =
    transform(emb, x => floor(x.cast("double") * lit(S.toDouble)).cast("long"))

  /** Hard-sigmoid probability (1e-6 scale) from margin z_s. */
  private def hardSigmoidS(zs: Column): Column =
    least(greatest(lit(S / 2) + floorDivP(zs, lit(4L * S)), lit(0L)), lit(S))

  /** Margin z_s of a feature array against a literal weight vector —
    * the per-row scoring inner loop, backed by the native codegen'd
    * integer dot (the HOF aggregate/zip_with form is CodegenFallback
    * and would run the hot loop interpreted; [[marginSHof]] keeps it
    * as the spec-tested parity witness). A width-mismatched row scores
    * the zero margin (p = 1/2), never a crash.
    */
  private def marginS(xs: Column, w: Array[Long]): Column =
    coalesce(
      graft.expressions.IntDot(xs, array(w.map(lit).toIndexedSeq: _*)),
      lit(0L))

  /** Executable documentation of [[marginS]]'s arithmetic (TrainingSpec
    * pins native == HOF); prefix semantics differ only on
    * width-mismatched rows, which [[marginS]] sends to zero instead.
    */
  private[graft] def marginSHof(xs: Column, w: Array[Long]): Column =
    aggregate(
      zip_with(xs, array(w.map(lit).toIndexedSeq: _*),
        (a, b) => coalesce(a * b, lit(0L))),
      lit(0L), (acc, t) => acc + t)

  /** [[marginS]] exposed for the parity spec. */
  private[graft] def marginSNative(xs: Column, w: Array[Long]): Column =
    marginS(xs, w)

  /** [[xsCol]] exposed for the parity spec. */
  private[graft] def xsColP(emb: Column): Column = xsCol(emb)

  /** Train a binary logistic head over `vectors(embedding, labelCol)`
    * and return the learned 1e-6-scale weights driver-side (dims
    * entries — the form [[Inference.linearClassifyWeights]] and
    * [[logisticPredict]] consume). `labelCol` must be 0/1.
    */
  def trainLogisticWeights(vectors: DataFrame, labelCol: String,
      iters: Int = 3, lrNum: Long = 1L, lrDen: Long = 2L): Array[Long] = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(lrNum > 0 && lrDen > 0, "learning rate must be positive")
    val dims = vectors.select(size(col("embedding"))).first().getInt(0)
    val base = vectors.select(
        xsCol(col("embedding")).as("xs"),
        (col(labelCol).cast("long") * S).as("ys"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = base.count()
      require(n > 0, "cannot train on an empty corpus")
      var w = Array.fill(dims)(0L)
      for (_ <- 0 until iters) {
        val err = (hardSigmoidS(marginS(col("xs"), w)) - col("ys")).as("err")
        // (dim)-keyed gradient: partial-aggregated map-side, dims
        // groups on the wire; collect is dims-bounded (the head)
        val grads = base.select(err, posexplode(col("xs")))
          .groupBy("pos").agg(sum(col("err") * col("col")).as("g"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        w = w.zipWithIndex.map { case (wv, d) =>
          wv - Math.floorDiv(lrNum * grads.getOrElse(d, 0L), lrDen * n * S)
        }
      }
      w
    } finally { base.unpersist(); () }
  }

  /** Map-only corpus scoring with a trained head: (vec_id, p_s, pred)
    * — probability at 1e-6 scale and the 0.5-threshold class. At
    * 100 TB inference IS the scan (see [[Inference]]); the weight
    * vector ships as a plan literal.
    */
  def logisticPredict(vectors: DataFrame, w: Array[Long]): DataFrame =
    vectors.select(col("vec_id"),
        hardSigmoidS(marginS(xsCol(col("embedding")), w)).as("p_s"))
      .withColumn("pred", (col("p_s") >= lit(S / 2)).cast("long"))

  /** Nearest-class-mean (prototype) "training": the per-class centroid
    * of the fixed-point features, as 1e-6-scale integer weights —
    * floor(Σ xs_d / n) per (class, dim), exact. The few-shot/
    * non-parametric member of the classifier family: no iterations, no
    * learning rate, one partial-aggregated (class, dim)-keyed pass,
    * and the collect is (classes · dims)-bounded — a prototype table
    * is KBs, the same bounded-collect budget as the GD head.
    */
  def centroidWeights(vectors: DataFrame, labelCol: String): Seq[(Long, Array[Long])] = {
    val rows = vectors.select(col(labelCol).cast("long").as("cls"),
        posexplode(xsCol(col("embedding"))).as(Seq("dim", "xs")))
      .groupBy("cls", "dim")
      .agg(count(lit(1)).as("n"), sum("xs").as("s"))
      .select(col("cls"), col("dim"), floorDivP(col("s"), col("n")).as("w"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (cls, rs) =>
      val dims = rs.map(_._2).max + 1
      val w = Array.fill(dims)(0L)
      rs.foreach { case (_, d, v) => w(d) = v }
      (cls, w)
    }
  }

  /** Nearest-class-mean evaluation: every vector argmax-scored against
    * the class prototypes (integer dot, ties to the LOWEST class id —
    * deterministic), folded to confusion counts `(y, pred, n_rows)`.
    * Scoring is map-only with the prototype table as plan literals —
    * the [[Inference]] shape, classes·dims multiplies per row.
    */
  def ncmEval(vectors: DataFrame, labelCol: String): DataFrame =
    ncmEvalWith(vectors, labelCol, centroidWeights(vectors, labelCol))

  /** [[ncmEval]] against a PRECOMPUTED prototype table — the persisted-
    * model inference form (and what lets query faces share one
    * centroid pass).
    */
  def ncmEvalWith(vectors: DataFrame, labelCol: String,
      protos: Seq[(Long, Array[Long])]): DataFrame = {
    require(protos.nonEmpty, "no classes to train on")
    // argmax through ARRAY ops, not a when()-fold: the fold nests each
    // running best twice per class (O(2^classes) expression copies —
    // measured seconds at 10 classes); here every score is computed
    // once, and array_position finds the FIRST max = the lowest class
    // on ties (protos are class-sorted)
    val scores = array(protos.map { case (_, w) => marginS(col("_xs"), w) }: _*)
    val clsArr = array(protos.map(p => lit(p._1)): _*)
    vectors
      .select(col(labelCol).cast("long").as("y"),
        xsCol(col("embedding")).as("_xs"))
      .select(col("y"), scores.as("_sc"))
      .select(col("y"),
        element_at(clsArr,
          array_position(col("_sc"), array_max(col("_sc"))).cast("int"))
          .as("pred"))
      .groupBy("y", "pred").agg(count(lit(1)).as("n_rows"))
  }

  /** K-fold cross-validated evaluation: deterministic folds by
    * `vec_id mod nFolds`, one [[trainLogisticWeights]] fit per
    * held-out fold, scored ONLY on that fold — per-fold confusion
    * counts `(fold, y, pred, n_rows)`. The held-out confusion is the
    * honest generalization estimate the in-sample [[logisticEval]]
    * cannot give (an overfit head looks perfect there); k small and
    * literal, so this is k sequential fits, each the bounded-collect
    * GD above, and the scoring union is one plan.
    *
    * The modulo fold is the portable choice (any engine replays it);
    * for grouped leakage control compose with the leakage-safe group
    * splits in `sampling` instead — mod-folding SPLITS near-duplicate
    * groups, it does not respect them.
    */
  def crossValEval(vectors: DataFrame, labelCol: String, nFolds: Int = 3,
      iters: Int = 3, lrNum: Long = 1L, lrDen: Long = 2L): DataFrame = {
    require(nFolds >= 2, s"nFolds must be >= 2, got $nFolds")
    val withFold = vectors.withColumn("fold",
      pmod(col("vec_id"), lit(nFolds.toLong)))
    // the k fits share no state (each persists and collects its own
    // fold complement), so they run as CONCURRENT driver threads
    // (guide §2.6, the dagPathCentrality pattern): each fit is a chain
    // of driver-blocking dims-bounded collects, and sequencing the
    // folds serialized k of those chains for no reason — concurrent
    // fits back-fill each other's round-latency stalls locally and
    // each other's task tails on a cluster. The weights per fold are
    // unchanged (deterministic integer GD per fold).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val futs = (0 until nFolds).map { f => Future {
      val w = trainLogisticWeights(
        withFold.where(col("fold") =!= f.toLong), labelCol, iters, lrNum, lrDen)
      val test = withFold.where(col("fold") === f.toLong)
      logisticPredict(test, w)
        .join(test.select(col("vec_id"),
          col(labelCol).cast("long").as("y")), "vec_id")
        .select(lit(f.toLong).as("fold"), col("y"), col("pred"))
    }}
    futs.map(Await.result(_, Duration.Inf)).reduce(_ unionAll _)
      .groupBy("fold", "y", "pred").agg(count(lit(1)).as("n_rows"))
  }

  /** Train-then-evaluate composition: the confusion-matrix counts of
    * the trained head on `vectors` — (y, pred, n_rows), the quality
    * gate a filter-model pipeline checks before applying the model to
    * the full corpus.
    */
  def logisticEval(vectors: DataFrame, labelCol: String,
      iters: Int = 3, lrNum: Long = 1L, lrDen: Long = 2L): DataFrame = {
    val w = trainLogisticWeights(vectors, labelCol, iters, lrNum, lrDen)
    logisticPredict(vectors, w)
      .join(vectors.select(col("vec_id"), col(labelCol).cast("long").as("y")),
        "vec_id")
      .groupBy("y", "pred").agg(count(lit(1)).as("n_rows"))
  }
}
