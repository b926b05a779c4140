package graft

import org.apache.hadoop.fs.Path

import graft.core.{AssetDag, Catalog, Dag, GraftSession}
import graft.textreuse.TextReuseAssets

/** The declarative asset-DAG materializer (VERDICT r10 worklist #1): the
  * engine counterpart of the reference's Dagster `deps=[...]` surface
  * (raw_textreuses.py:75-79, assets/README.md dependency graph) —
  * topological materialize-only-what's-stale over the catalog's
  * versioned pointer-commit publish.
  */
class DagSpec extends SparkTestBase {

  // ---------------------------------------------------------------------
  // Pure graph machinery
  // ---------------------------------------------------------------------

  test("topoSort orders dependencies first, deterministically by registration") {
    val order = Dag.topoSort(Seq(
      "d" -> Seq("b", "c"), "b" -> Seq("a"), "c" -> Seq("a"),
      "a" -> Nil, "e" -> Nil))
    assert(order.indexOf("a") < order.indexOf("b"))
    assert(order.indexOf("b") < order.indexOf("d"))
    assert(order.indexOf("c") < order.indexOf("d"))
    // deterministic: among ready nodes, registration order wins — the
    // exact sequence is reproducible run to run
    assert(order === Seq("a", "b", "c", "d", "e"))
  }

  test("topoSort rejects cycles and undeclared deps loudly") {
    val cyc = intercept[IllegalArgumentException] {
      Dag.topoSort(Seq("a" -> Seq("b"), "b" -> Seq("c"), "c" -> Seq("a")))
    }
    assert(cyc.getMessage.contains("cycle"))
    assert(Seq("a", "b", "c").forall(cyc.getMessage.contains))
    val unk = intercept[IllegalArgumentException] {
      Dag.topoSort(Seq("a" -> Seq("ghost")))
    }
    assert(unk.getMessage.contains("ghost"))
    val dup = intercept[IllegalArgumentException] {
      Dag.topoSort(Seq("a" -> Nil, "a" -> Nil))
    }
    assert(dup.getMessage.contains("duplicate"))
  }

  test("downstream and upstream closures are strict and transitive") {
    val g = Seq("a" -> Seq.empty[String], "b" -> Seq("a"), "c" -> Seq("a"),
      "d" -> Seq("b", "c"), "e" -> Seq.empty[String])
    assert(Dag.downstream(g, Set("a")) === Set("b", "c", "d"))
    assert(Dag.downstream(g, Set("b")) === Set("d"))
    assert(Dag.downstream(g, Set("e")) === Set.empty)
    assert(Dag.upstream(g, Set("d")) === Set("a", "b", "c"))
    assert(Dag.upstream(g, Set("b")) === Set("a"))
  }

  // ---------------------------------------------------------------------
  // Catalog-backed materializer
  // ---------------------------------------------------------------------

  private def newCatalog(): Catalog =
    new Catalog(spark, tempDir("graft-dag").toString)

  /** Diamond a → {b, c} → d plus unrelated sibling e; every builder
    * counts its invocations so skip-vs-rebuild is directly observable.
    */
  private def diamond(cat: Catalog): (AssetDag, scala.collection.mutable.Map[String, Int]) = {
    import spark.implicits._
    val builds = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def bump(n: String): Unit = builds(n) = builds(n) + 1
    val dag = new AssetDag(cat)
    dag.asset("a") { _ => bump("a"); Seq(1L, 2L, 3L).toDF("id") }
    dag.asset("b", Seq("a")) { in => bump("b"); in("a").selectExpr("id * 2 AS id2") }
    dag.asset("c", Seq("a")) { in => bump("c"); in("a").selectExpr("id + 10 AS id3") }
    dag.asset("d", Seq("b", "c")) { in =>
      bump("d"); in("b").crossJoin(in("c"))
    }
    dag.asset("e") { _ => bump("e"); Seq("x").toDF("s") }
    (dag, builds)
  }

  test("materialize builds every stale asset once in dependency order; " +
      "a second materialize is a no-op (the ifNotExists contract, deps-aware)") {
    val cat = newCatalog()
    val (dag, builds) = diamond(cat)
    val built = dag.materialize()
    assert(built.toSet === Set("a", "b", "c", "d", "e"))
    assert(built.indexOf("a") < built.indexOf("b"))
    assert(built.indexOf("b") < built.indexOf("d"))
    assert(built.indexOf("c") < built.indexOf("d"))
    assert(cat.get("d").count() === 9L)
    val v1 = dag.status().map { case (n, v, _) => n -> v }.toMap
    // everything current → nothing rebuilds, versions stay put
    assert(dag.materialize() === Seq.empty)
    assert(dag.status().map { case (n, v, _) => n -> v }.toMap === v1)
    assert(builds.toMap === Map("a" -> 1, "b" -> 1, "c" -> 1, "d" -> 1, "e" -> 1))
  }

  test("materialize(target) touches only the target's upstream closure") {
    val cat = newCatalog()
    val (dag, builds) = diamond(cat)
    assert(dag.materialize("b").toSet === Set("a", "b"))
    assert(builds.toMap === Map("a" -> 1, "b" -> 1),
      "c/d/e are outside b's upstream closure and must not build")
    assert(cat.currentVersion("c").isEmpty && cat.currentVersion("e").isEmpty)
  }

  test("refresh(leaf) force-rebuilds the leaf and exactly its downstream cone") {
    val cat = newCatalog()
    val (dag, builds) = diamond(cat)
    dag.materialize()
    val v1 = Seq("a", "b", "c", "d", "e")
      .map(n => n -> cat.currentVersion(n).get).toMap
    val rebuilt = dag.refresh("b")
    assert(rebuilt === Seq("b", "d"),
      "b's cone is {d}; a/c/e are outside it")
    val v2 = Seq("a", "b", "c", "d", "e")
      .map(n => n -> cat.currentVersion(n).get).toMap
    assert(v2("b") === v1("b") + 1 && v2("d") === v1("d") + 1)
    assert(v2("a") === v1("a") && v2("c") === v1("c") && v2("e") === v1("e"),
      "assets outside the cone keep their versions — a one-table fix " +
        "must not recompute the whole pipeline")
    assert(builds("a") === 1 && builds("c") === 1 && builds("e") === 1)
  }

  test("a lost _DEPS manifest (crash between pointer commit and manifest " +
      "write) degrades to one redundant rebuild, never a silent skip") {
    val cat = newCatalog()
    val (dag, builds) = diamond(cat)
    dag.materialize()
    val manifest = new Path(s"${cat.path("d").stripSuffix(".parquet")}.versions/_DEPS")
    org.apache.hadoop.fs.FileSystem.get(manifest.toUri,
      spark.sparkContext.hadoopConfiguration).delete(manifest, false)
    assert(dag.materialize() === Seq("d"))
    assert(builds("d") === 2 && builds("b") === 1)
    // rebuilt manifest makes it current again
    assert(dag.materialize() === Seq.empty)
  }

  test("a TORN _DEPS manifest (crash mid-write / partial flush) reads as " +
      "stale — one redundant rebuild, never a crash or a skip") {
    val cat = newCatalog()
    val (dag, builds) = diamond(cat)
    dag.materialize()
    val manifest = new Path(s"${cat.path("d").stripSuffix(".parquet")}.versions/_DEPS")
    val f = org.apache.hadoop.fs.FileSystem.get(manifest.toUri,
      spark.sparkContext.hadoopConfiguration)
    val out = f.create(manifest, true)
    out.write("b=1\nc=".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    assert(dag.materialize() === Seq("d"),
      "the garbled dep line must drop out of the manifest and read stale")
    assert(builds("d") === 2)
    assert(dag.materialize() === Seq.empty)
  }

  test("two drivers racing the same assets double-build but CONVERGE: " +
      "last pointer wins, stale-from-older-inputs is detected, and the " +
      "next materialize on either driver is a no-op (single-writer " +
      "contract, converged not prevented)") {
    import spark.implicits._
    val dir = tempDir("graft-dag-race").toString
    val catA = new Catalog(spark, dir)
    val catB = new Catalog(spark, dir)
    var aX = 0; var aY = 0; var bX = 0; var bY = 0
    val dagB = new AssetDag(catB)
    dagB.asset("x") { _ => bX += 1; Seq(10L).toDF("id") }
    dagB.asset("y", Seq("x")) { in => bY += 1; in("x").selectExpr("id * 2 AS v") }
    val dagA = new AssetDag(catA)
    dagA.asset("x") { _ =>
      aX += 1
      // driver B runs a FULL check-and-build inside A's build window —
      // the exact race: both drivers passed isStale for x before either
      // committed. B commits x@v1 and y (manifest x=1); A then commits
      // x@v2, making B's y stale-from-older-inputs.
      dagB.materialize()
      Seq(20L).toDF("id")
    }
    dagA.asset("y", Seq("x")) { in => aY += 1; in("x").selectExpr("id * 2 AS v") }
    val builtA = dagA.materialize()
    assert(builtA === Seq("x", "y"))
    assert(aX === 1 && bX === 1, "both drivers build x — safe but wasteful")
    assert(aY === 1 && bY === 1,
      "A must detect y's manifest records x@v1 ≠ current v2 and rebuild")
    // last pointer commit wins and both drivers read it
    assert(catA.get("x").collect().map(_.getLong(0)).toSeq === Seq(20L))
    assert(catB.get("y").collect().map(_.getLong(0)).toSeq === Seq(40L))
    // converged: no driver sees anything stale
    assert(dagA.materialize() === Seq.empty && dagB.materialize() === Seq.empty)
  }

  test("an EXTERNAL dependency (catalog table built outside the dag) " +
      "marks its consumers stale when re-dropped") {
    import spark.implicits._
    val cat = newCatalog()
    cat.materialize("ext", Seq(1L).toDF("id"))
    val dag = new AssetDag(cat)
    dag.asset("cons", Seq("ext")) { in => in("ext").selectExpr("id * 100 AS v") }
    assert(dag.materialize() === Seq("cons"))
    assert(dag.materialize() === Seq.empty, "unchanged external input → skip")
    Thread.sleep(20) // ensure the re-drop lands on a new mtime tick
    cat.materialize("ext", Seq(2L, 3L).toDF("id"))
    assert(dag.materialize() === Seq("cons"),
      "re-dropped input must propagate staleness to its consumers")
    assert(cat.get("cons").count() === 2L)
  }

  test("a same-tick same-length in-place rewrite of an external input: " +
      "invisible to the listing token (the documented residue), caught " +
      "by the content-digest token (VERDICT r12 item 5)") {
    import spark.implicits._
    val cat = newCatalog()
    // a RAW external table (no catalog version — the listing/digest
    // token path) with a Spark-invisible sidecar file we can rewrite
    // in place without disturbing the parquet footprint
    Seq(1L).toDF("id").write.parquet(cat.path("ext"))
    val sidecar = new Path(s"${cat.path("ext")}/_sidecar")
    val fs = org.apache.hadoop.fs.FileSystem.get(sidecar.toUri,
      spark.sparkContext.hadoopConfiguration)
    def drop(bytes: String, pinMtime: Long = -1L): Unit = {
      val out = fs.create(sidecar, true)
      out.write(bytes.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.close()
      if (pinMtime >= 0) fs.setTimes(sidecar, pinMtime, -1)
    }
    drop("AAAA")
    val mtime0 = fs.getFileStatus(sidecar).getModificationTime

    // 1. the default listing token: the rewrite is the DECLARED residue
    val plain = new AssetDag(cat)
    plain.asset("cons", Seq("ext")) { in => in("ext").selectExpr("id * 10 AS v") }
    assert(plain.materialize() === Seq("cons"))
    assert(plain.materialize() === Seq.empty)
    drop("BBBB", pinMtime = mtime0) // same length, same tick, new bytes
    assert(plain.materialize() === Seq.empty,
      "the listing token cannot see a same-tick same-length rewrite — " +
        "this is the documented residue, not a silent regression")

    // 2. the content-digest token closes it
    val digest = new AssetDag(cat).externalContentDigest("ext")
    digest.asset("cons", Seq("ext")) { in => in("ext").selectExpr("id * 10 AS v") }
    // first materialize rebuilds once (the manifest holds listing-form
    // tokens); the second proves the digest token is deterministic
    digest.materialize()
    assert(digest.materialize() === Seq.empty,
      "byte windows must hash deterministically")
    drop("CCCC", pinMtime = mtime0)
    assert(digest.materialize() === Seq("cons"),
      "the digest token must flip on an in-place byte rewrite")
    assert(digest.materialize() === Seq.empty)
  }

  test("a missing dependency that is neither registered nor in the catalog " +
      "fails loudly at materialize") {
    val cat = newCatalog()
    val dag = new AssetDag(cat)
    import spark.implicits._
    dag.asset("orphan", Seq("nowhere")) { in => in("nowhere") }
    val e = intercept[IllegalArgumentException] { dag.materialize() }
    assert(e.getMessage.contains("nowhere"))
  }

  // ---------------------------------------------------------------------
  // The reference's full textreuse asset graph, end-to-end
  // ---------------------------------------------------------------------

  /** Raw BLAST-shaped hits over 6 documents: two reuse families plus a
    * bridge hit, enough to exercise ids → pieces → defrag → clustering.
    */
  private def rawHits(): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    Seq(
      ("m1.s1", "m2", 10, 60, 5, 55, 50, 91.0),
      ("m1.s1", "m3.s2", 12, 58, 100, 146, 46, 88.0),
      ("m2", "m3.s2", 7, 53, 102, 148, 46, 85.0),
      ("m4", "m5.s1", 200, 260, 20, 80, 60, 93.0),
      ("m5.s1", "m6", 22, 78, 300, 356, 56, 90.0),
      ("m1.s1", "m4", 11, 59, 198, 246, 48, 87.0))
      .toDF("text1_id", "text2_id", "text1_text_start", "text1_text_end",
        "text2_text_start", "text2_text_end", "align_length",
        "positives_percent")
  }

  test("the reference textreuse graph materializes end-to-end and a " +
      "mid-pipeline refresh recomputes exactly its cone (Dagster parity)") {
    val cat = newCatalog()
    val dag = new AssetDag(cat)
    val raw = rawHits()
    dag.asset("raw_textreuses")(_ => raw)
    TextReuseAssets.register(dag, clusterMaxIter = 4)

    val built = dag.materialize()
    assert(built.size === 11,
      s"the source + all ten derived assets build once, got $built")
    val clustered = cat.get("clustered_defrag_pieces")
    assert(clustered.columns.toSeq === Seq("piece_id", "cluster_id"))
    // clustering covers exactly the adjacency nodes, with dense ids
    val nodes = cat.get("adjacency_list").select("piece_id").distinct().count()
    assert(clustered.count() === nodes && nodes > 0)
    assert(clustered.select("piece_id").distinct().count() === nodes)

    // a mid-pipeline re-materialization recomputes only its cone: the
    // upstream id tables keep their versions (affordable rerun at 100 TB)
    val vIds = cat.currentVersion("textreuse_ids").get
    val vTrs = cat.currentVersion("textreuses").get
    val rebuilt = dag.refresh("orig_pieces")
    assert(rebuilt.toSet === Set("orig_pieces", "orig_textreuses",
      "piece_id_mappings", "defrag_textreuses", "defrag_pieces",
      "adjacency_list", "clusters", "clustered_defrag_pieces"))
    assert(cat.currentVersion("textreuse_ids").get === vIds)
    assert(cat.currentVersion("textreuses").get === vTrs)
    // deterministic builders → the refreshed cone reproduces the data
    assert(cat.get("clustered_defrag_pieces").count() === nodes)
  }

  test("a warm rebuild of the textreuse graph compiles no generated code: " +
      "the chain's classes fit the codegen cache") {
    val raw = rawHits()
    val Seq(first, second) = Seq.fill(2) {
      val dag = new AssetDag(newCatalog())
      dag.asset("raw_textreuses")(_ => raw)
      TextReuseAssets.register(dag, clusterMaxIter = 4)
    }
    first.materialize()
    val (built, s) = Profile.measure(spark)(second.materialize())
    assert(built.size === 11)
    assert(s.compiles === 0L,
      s"the warm build compiled ${s.compiles} classes; the engine's working set " +
        s"outgrew spark.sql.codegen.cache.maxEntries = ${GraftSession.CodegenCacheEntries}")
  }

  test("every asset of the textreuse graph publishes a schema file that " +
      "equals the inferred schema") {
    val cat = newCatalog()
    val dag = new AssetDag(cat)
    val raw = rawHits()
    dag.asset("raw_textreuses")(_ => raw)
    TextReuseAssets.register(dag, clusterMaxIter = 2)
    dag.materialize()
    for (n <- dag.names) {
      val dir = cat.dataDir(n)
      assert(new java.io.File(dir, Catalog.SchemaFile).isFile, s"$n has no schema file")
      assert(cat.get(n).schema === spark.read.parquet(dir).schema, n)
    }
  }
}
