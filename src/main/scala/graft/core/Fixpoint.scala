package graft.core

import java.nio.charset.StandardCharsets.UTF_8

import scala.annotation.tailrec

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

/** What the engine's iterative DataFrame loops share. Every round loop
  * in `graph`, `cluster` and `dedup` runs on [[iterate]], which owns the
  * round counter, the cap check and the cap message; each caller keeps
  * its step, its stop value and its caches. The converged loops
  * (`Clustering.propagate`, `KCore.peelConverged`,
  * `PageRank.runConverged`, `Dedup.dedupGroupsConverged`) also take from
  * it how a round cuts its lineage, how it reads its convergence value,
  * and who owns the directory its checkpoints go to. The
  * label-correcting loops run whole in [[relax]] and keep only their
  * step.
  *
  * Invariants:
  *  - a [[Checkpointer]] runs an action on the frame it is given, and
  *    [[observedRound]] collects the round's value during that action:
  *    one job per round, never a write plus a second count scan. A cut
  *    that also needs its row count is a [[countedCut]], never a lazy
  *    checkpoint and a `count()`, whose single-partition final stage is
  *    one more job. Its callers: [[relax]]'s rounds and seeds, the truss
  *    peel (`Truss.edges`), `Bfs.hopWave`'s waves, and in `Scc` the
  *    remaining, trim, active and peel sets of `stronglyConnected` and
  *    the seed sets and waves of `dagPathCentrality`; `KCore.peelConverged`
  *    counts its node set as round 0 of its own checkpointer;
  *  - `localCheckpoint` carries the origin plan's statistics forward, so
  *    size estimates compound multiplicatively with the round count
  *    until Catalyst's BigInt stats overflow ("BigInteger would overflow
  *    supported range"); the parquet round-trip resets them to real file
  *    sizes. A bounded prefix of local rounds is safe
  *    ([[hybridCheckpointer]]), an unbounded run of them is not;
  *  - the durable layout is the reference's alternating two-table scheme
  *    (chinese_label_propagation.py:189-197): round i writes
  *    `clusters_counts_{i % 2}` and then commits `LATEST_ITER` = i by
  *    rename, so a crash leaves the previous marker or the new one, and
  *    the marked table is never the one a crashed write half-overwrote;
  *  - a [[scratch]] directory belongs to one call: the result is
  *    materialized off its files before it is deleted, and it is deleted
  *    on every exit, a throw or a loud cap included;
  *  - the checkpoint scheme never changes a loop's result: the loops are
  *    deterministic in their inputs (Chinese Whispers' draws are hashes
  *    of (piece_id, seed + iteration)), so only cost and crash tolerance
  *    depend on it.
  */
object Fixpoint {

  /** Cuts the lineage of round `i`'s frame; returns the frame to read on. */
  type Checkpointer = (DataFrame, Int) => DataFrame

  /** Rounds a [[hybridCheckpointer]] cuts locally before it turns durable. */
  val LocalRounds = 8

  /** `localCheckpoint` every round: no files, no crash tolerance, and only
    * for a bounded round count (see the statistics invariant above).
    */
  val localCheckpointer: Checkpointer = (df, _) => df.localCheckpoint()

  /** The durable alternating checkpoint. The table is read back with the
    * schema just written (no schema-inference job), and the marker is
    * written to a temp name and renamed into place through the Hadoop
    * filesystem of `dir`, so the scheme works on hdfs:// and s3a:// too.
    */
  def parquetCheckpointer(dir: String): Checkpointer = (df, i) => {
    val path = s"$dir/clusters_counts_${i % 2}"
    df.write.mode("overwrite").parquet(path)
    val spark = df.sparkSession
    val marker = new Path(s"$dir/LATEST_ITER")
    val tmp = new Path(s"$dir/.LATEST_ITER.tmp")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(tmp, true)
    try out.write(i.toString.getBytes(UTF_8))
    finally out.close()
    fs.delete(marker, false)
    require(fs.rename(tmp, marker), s"could not commit checkpoint marker $marker")
    spark.read.schema(df.schema).parquet(path)
  }

  /** Local truncation through round [[LocalRounds]], durable parquet
    * after: loops that usually converge within the prefix skip the
    * per-round parquet write and read, and the durable scheme starts
    * where an unbounded tail would compound local statistics.
    */
  def hybridCheckpointer(dir: String): Checkpointer = {
    val durable = parquetCheckpointer(dir)
    (df, i) => if (i <= LocalRounds) df.localCheckpoint() else durable(df, i)
  }

  /** The last round a [[parquetCheckpointer]] committed in `dir`: (its
    * frame, its round number), or None if no round completed. A loop that
    * resumes from it continues where a dead run stopped, as the reference
    * does by re-pointing its `iter` at the alternating tables
    * (chinese_label_propagation.py:75-77). The schema is inferred from
    * the files, once per resume, so a file of an older row shape shows
    * its real columns and the loop can refuse it.
    */
  def latestCheckpoint(spark: SparkSession, dir: String): Option[(DataFrame, Int)] = {
    val marker = new Path(s"$dir/LATEST_ITER")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      val i = try new String(in.readAllBytes(), UTF_8).trim.toInt
      finally in.close()
      Some((spark.read.parquet(s"$dir/clusters_counts_${i % 2}"), i))
    }
  }

  /** Round `i` of a loop: observes the aggregate `value` on `df` as the
    * Observation `<name>_<i>`, keeps the columns `keep` (all of them when
    * empty), checkpoints, and returns (checkpointed frame, value). An
    * aggregate over zero rows is null and reads as 0: an empty frame has
    * nothing left to change.
    */
  def observedRound(checkpoint: Checkpointer, name: String, i: Int,
      df: DataFrame, value: Column, keep: Column*): (DataFrame, Long) = {
    val obs = Observation(s"${name}_$i")
    val observed = df.observe(obs, value.as("value"))
    val out = checkpoint(if (keep.isEmpty) observed else observed.select(keep: _*), i)
    (out, Option(obs.get("value")).fold(0L)(_.asInstanceOf[Long]))
  }

  /** Cuts `df` with [[localCheckpointer]] as round `i` of `name`, counting
    * its rows in the same job: (cut frame, row count).
    */
  def countedCut(name: String, i: Int, df: DataFrame): (DataFrame, Long) =
    observedRound(localCheckpointer, name, i, df, count(lit(1)))

  /** The one round loop. From `init` = (state, go on?), runs
    * `round(state, r)` for r = 1, 2, … while the last round said to go on,
    * and returns the last state; an initial `false` runs no round.
    *
    * Invariants:
    *  - the cap is loud: a loop still going after `maxRounds` rounds
    *    throws, naming `name`, instead of returning a state that is not
    *    a fixpoint (a partial result looks like a converged one
    *    downstream). A loop whose bound is its contract (Chinese
    *    Whispers' `maxIter`, a BFS wave's `maxHops`) folds the bound into
    *    its go-on value, so it stops at the bound without throwing;
    *  - the driver runs no job of its own: a round's jobs are its step's;
    *  - it holds no state outside the call, so independent loops may run
    *    it concurrently (`Scc.dagPathCentrality`'s two waves do).
    */
  def iterate[S](name: String, maxRounds: Int, init: (S, Boolean))(
      round: (S, Int) => (S, Boolean)): S = {
    @tailrec def loop(state: S, goOn: Boolean, r: Int): S =
      if (!goOn) state
      else {
        require(r < maxRounds, s"$name did not converge within $maxRounds rounds; raise maxRounds")
        val (next, more) = round(state, r + 1)
        loop(next, more, r + 1)
      }
    loop(init._1, init._2, 0)
  }

  /** The frontier-limited label-correcting loop behind
    * `Scc.stronglyConnected`'s coloring and membership sweep,
    * `Scc.dagLongestPath`, `Bfs.shortestPaths` and `Bfs.earliestArrival`.
    * A `better` that is never true makes it a first-visit wave: each
    * node keeps the label of the round that first reaches it. `seeds` is
    * (node, label), its two column names are the result's; each round,
    * `step(frontier, frontierRows)` relaxes the last round's improved
    * rows and returns one candidate (node, label) row per node it
    * reaches, and a candidate is kept if the node has no label yet or
    * `better(candidate, label)`.
    *
    * Invariants:
    *  - a round costs the jobs of its exchanges (the step's, the
    *    improvement join's, the merge's) and one more: the improved
    *    frontier is a [[countedCut]], so no round pays a separate count;
    *  - the label merge (anti-join the improved nodes out, union them
    *    in) is a lazy checkpoint: its rows are computed inside the job
    *    of the next round, whose improvement join reads them, and the
    *    terminal round builds no merge. The cut's job also counts the
    *    improved nodes that had a label; when there are none (every
    *    round of a first-visit wave), the merge is the union alone;
    *  - the loop runs on [[iterate]], so a loop still improving after
    *    `maxRounds` rounds throws, naming `name`;
    *  - for a monotone `better` the fixpoint does not depend on the
    *    schedule: a step may relax several hops per round (the callers'
    *    strides) and every candidate it relays is a genuine label, so
    *    the result is the one the DuckDB recursive-CTE oracles derive.
    *
    * `seedRows` is the row count of `seeds`, or a positive bound on it,
    * when the caller already knows one; then `seeds` is read as given and
    * the first step is told that bound. Otherwise the seeds are cut like
    * a round, and that job counts them.
    */
  def relax(name: String, seeds: DataFrame, maxRounds: Int, better: (Column, Column) => Column,
      seedRows: Option[Long] = None)(step: (DataFrame, Long) => DataFrame): DataFrame = {
    val Array(node, label) = seeds.columns
    val (seeded, seedCount) = seedRows match {
      case Some(n) => (seeds, n)
      case None => countedCut(name, 0, seeds)
    }
    // state: (labels, frontier, frontier rows)
    iterate(name, maxRounds, ((seeded, seeded, seedCount), seedCount > 0)) {
      case ((labels, frontier, frontierRows), r) =>
        val relabelled = Observation(s"${name}_relabelled_$r")
        val improved = step(frontier, frontierRows).toDF("cand", "cand_label")
          .join(labels, col("cand") === col(node), "left")
          .where(col(label).isNull || better(col("cand_label"), col(label)))
          .observe(relabelled, count(col(label)).as("value"))
          .select(col("cand").as(node), col("cand_label").as(label))
        val (next, n) = countedCut(name, r, improved)
        val merged = if (n == 0) labels else {
          val kept = if (relabelled.get("value") == 0L) labels
            else labels.join(next.select(node), Seq(node), "left_anti")
          kept.unionAll(next).localCheckpoint(false)
        }
        ((merged, next, n), n > 0)
    }._1
  }

  /** Runs `body` with a checkpointer over a fresh per-call directory
    * under `java.io.tmpdir`, materializes its result off the checkpoint
    * files with `localCheckpoint`, and deletes the directory, also when
    * `body` throws. Callers release their own caches in a `finally`
    * around this call.
    */
  def scratch(spark: SparkSession, prefix: String, checkpointer: String => Checkpointer)(
      body: Checkpointer => DataFrame): DataFrame = {
    val dir = new Path(java.nio.file.Files.createTempDirectory(prefix).toString)
    try body(checkpointer(dir.toString)).localCheckpoint()
    finally dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
  }
}
