package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Declarative asset-DAG materializer over [[Catalog]]'s versioned
  * pointer-commit publish — the engine counterpart of the reference's
  * Dagster control surface, where each asset declares `deps=[...]`
  * (reference: etl_textreuse/assets/raw_textreuses.py:75-79) and the
  * documented dependency graph (etl_textreuse/assets/README.md:262-280)
  * drives materialize-only-what's-stale ordering.
  *
  * Model: each registered asset has a name, declared dependencies, and
  * a builder from resolved dependency DataFrames. Publishing goes
  * through [[Catalog.materializeAtomic]], so every build is an
  * immutable version directory plus a pointer commit (object-store-safe,
  * crash-safe). Alongside the pointer, the dag records a tiny `_DEPS`
  * manifest: the (dep → version-token) snapshot the asset was built
  * from. An asset is STALE iff it has no published version, or any
  * dependency's CURRENT token differs from the manifest — i.e. an
  * upstream was re-materialized since this asset last built. That is
  * exactly Dagster's staleness propagation: re-materializing an asset
  * bumps its version, which makes its whole downstream cone stale,
  * while siblings outside the cone stay untouched.
  *
  * Dependencies may also name EXTERNAL tables that live in the catalog
  * but are produced outside the dag (the reference's upstream
  * `AssetSpec` sources, raw_textreuses.py:71-73); their version token
  * is an order-independent hash of the data directory's recursive file
  * listing (path + length + mtime per file), so re-dropping an input
  * marks its consumers stale on the next materialize. A directory-status
  * mtime would NOT do: s3a-style object stores report 0
  * for implicit prefixes, and coarse filesystem ticks let two drops
  * share a timestamp — both read as "unchanged" and silently skip the
  * cone. The listing hash changes whenever any file is added, removed,
  * renamed, or resized; the one theoretical residue (same names, same
  * lengths, same mtimes, different bytes) needs a same-tick in-place
  * byte rewrite. For external deps whose producer IS that fast (or
  * whose store pins timestamps), [[externalContentDigest]] opts the
  * dep into content-digest tokens: each file's hash additionally folds
  * in its first and last 64 KiB of bytes — bounded I/O per file (a
  * full-content hash would re-read the corpus on every staleness
  * probe), and an in-place rewrite that leaves BOTH 64 KiB windows of
  * some file byte-identical is a producer contract violation, not a
  * staleness bug. Producers who can should still publish through the
  * versioned catalog instead, where the pointer version is the token.
  *
  * Crash contract: the manifest is written AFTER the pointer commit,
  * from dependency tokens captured BEFORE the build read its inputs. A
  * crash between commit and manifest write leaves a committed version
  * with a stale or missing manifest, which reads as "stale"; an
  * upstream re-published mid-build leaves the manifest recording the
  * pre-build token, which differs from current and also reads as
  * "stale" (capturing after the build would record the NEWER token and
  * silently skip). A torn/garbled manifest parses to a
  * partial map whose missing or mismatched entries read as "stale".
  * In every case the worst outcome is one redundant rebuild, never a
  * silently-skipped one.
  *
  * Concurrency contract: the dag is a SINGLE-WRITER control surface,
  * like the Dagster daemon it mirrors — one driver materializes a given
  * catalog at a time. Two drivers racing the same asset both pass
  * `isStale` and double-build; that is safe (each build is an immutable
  * version directory, the last pointer commit wins, and the next
  * materialize over the surviving pointer+manifest pair is a no-op) but
  * wasteful, so it is explicitly converged-not-prevented — see
  * DagSpec's race-convergence case. Readers are never affected: they
  * only ever see fully-committed pointers.
  *
  * Scale notes: the registry and manifests are metadata-only (a handful
  * of driver-side file reads per materialize); all data movement is the
  * builders' own Spark jobs. Skipping up-to-date assets is what makes
  * re-running a 100 TB pipeline after a one-table fix affordable — only
  * the downstream cone recomputes.
  */
final class AssetDag(val catalog: Catalog) {

  private val DigestWindowBytes = 64L * 1024

  private case class Node(name: String, deps: Seq[String],
    build: Map[String, DataFrame] => DataFrame)

  private val nodes = scala.collection.mutable.LinkedHashMap.empty[String, Node]

  /** Register an asset: `deps` are resolved (and materialized first if
    * registered here) before `build` runs; the builder receives them by
    * name, already registered as temp views. Returns `this` for
    * chaining. Registration order is the tie-break for materialize
    * order, so registries are deterministic.
    */
  def asset(name: String, deps: Seq[String] = Nil)(
      build: Map[String, DataFrame] => DataFrame): this.type = {
    require(!nodes.contains(name), s"asset '$name' registered twice")
    nodes.put(name, Node(name, deps, build))
    this
  }

  def names: Seq[String] = nodes.keys.toSeq

  private val contentDigestDeps = scala.collection.mutable.Set.empty[String]

  /** Opt EXTERNAL dependencies into content-digest version tokens:
    * their per-file hash folds in the first and last 64 KiB of file
    * bytes on top of path+length+mtime, closing the listing token's
    * same-tick same-length in-place-rewrite residue at a bounded I/O
    * cost (two windows per file, never a full read). No effect on dag-published deps — their pointer version is
    * already the token. Returns `this` for chaining.
    */
  def externalContentDigest(deps: String*): this.type = {
    contentDigestDeps ++= deps
    this
  }

  /** Declared graph with external (unregistered) deps dropped — they
    * have no builder to order against; existence is checked at build.
    */
  private def declaredGraph: Seq[(String, Seq[String])] =
    nodes.values.map(n => n.name -> n.deps.filter(nodes.contains)).toSeq

  /** Every registered asset in dependency order (cycles throw). */
  def topoOrder: Seq[String] = Dag.topoSort(declaredGraph)

  /** The strict transitive consumers of `name` — what a rebuild of
    * `name` invalidates.
    */
  def downstreamOf(name: String): Set[String] = {
    require(nodes.contains(name), s"unknown asset '$name'")
    Dag.downstream(declaredGraph, Set(name))
  }

  // ---------------------------------------------------------------------
  // Staleness: version-token manifests
  // ---------------------------------------------------------------------

  private def manifestPath(name: String): Path =
    new Path(s"${catalog.versionsDir(name)}/_DEPS")

  /** A dependency's current identity token: the pointer-committed
    * version for dag-published tables, else an order-independent hash
    * of the data directory's recursive file listing for external
    * inputs (see class doc — a directory mtime is 0 on object-store
    * implicit prefixes and tick-coarse locally). Missing
    * deps are loud — a silent None would read as "fresh forever".
    */
  private def token(dep: String): Long =
    catalog.currentVersion(dep).getOrElse {
      val p = catalog.dataDir(dep)
      val f = catalog.fs(p)
      require(f.exists(new Path(p)),
        s"dependency '$dep' is neither a registered asset with a build nor an existing catalog table")
      // XOR-combine per-file FNV-1a hashes: order-independent (listing
      // order is filesystem-dependent), and any added/removed/renamed/
      // resized/re-timestamped file flips the token. Metadata-only: one
      // recursive listing, no data reads.
      var tok = 0L
      val it = f.listFiles(new Path(p), true)
      while (it.hasNext) {
        val st = it.next()
        var h = 0xcbf29ce484222325L
        def mix(v: Long): Unit = { var k = v; var i = 0
          while (i < 8) { h = (h ^ (k & 0xffL)) * 0x100000001b3L; k >>>= 8; i += 1 } }
        val name = st.getPath.toUri.getPath
        var ci = 0
        while (ci < name.length) {
          h = (h ^ name.charAt(ci).toLong) * 0x100000001b3L; ci += 1
        }
        mix(st.getLen)
        mix(st.getModificationTime)
        // content-digest deps additionally fold in the file's first and
        // last 64 KiB windows (see externalContentDigest) — bounded
        // I/O, closes the same-tick same-length in-place rewrite hole
        if (contentDigestDeps.contains(dep) && st.getLen > 0) {
          def mixBytes(buf: Array[Byte], n: Int): Unit = { var bi = 0
            while (bi < n) { h = (h ^ (buf(bi) & 0xffL)) * 0x100000001b3L; bi += 1 } }
          val in = f.open(st.getPath)
          try {
            val head = math.min(st.getLen, DigestWindowBytes).toInt
            val buf = new Array[Byte](head)
            org.apache.hadoop.io.IOUtils.readFully(in, buf, 0, head)
            mixBytes(buf, head)
            if (st.getLen > DigestWindowBytes) {
              val tail = math.min(st.getLen - DigestWindowBytes,
                DigestWindowBytes).toInt
              val tb = new Array[Byte](tail)
              in.seek(st.getLen - tail)
              org.apache.hadoop.io.IOUtils.readFully(in, tb, 0, tail)
              mixBytes(tb, tail)
            }
          } finally in.close()
        }
        tok ^= h
      }
      tok
    }

  private def writeManifest(name: String, tokens: Seq[(String, Long)]): Unit = {
    val p = manifestPath(name)
    val f = catalog.fs(p.toString)
    val out = f.create(p, true)
    try out.write(tokens.sortBy(_._1).map { case (d, t) => s"$d=$t" }
      .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readManifest(name: String): Option[Map[String, Long]] = {
    val p = manifestPath(name)
    val f = catalog.fs(p.toString)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val s = try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
      // a torn line (crash mid-write, partial flush) parses to nothing
      // and its dep drops out of the map — which reads as "stale",
      // never as a crash or a skip
      Some(s.split("\n").iterator.filter(_.contains("="))
        .flatMap { line =>
          val i = line.indexOf('=')
          scala.util.Try(line.substring(i + 1).trim.toLong).toOption
            .map(line.substring(0, i) -> _)
        }.toMap)
    }
  }

  /** Stale = never published, or built against dependency versions that
    * are no longer current (including a missing/torn manifest when the
    * asset HAS dependencies — the crash-window case degrades to a
    * rebuild, never a skip).
    */
  def isStale(name: String): Boolean = {
    val node = nodes.getOrElse(name,
      throw new IllegalArgumentException(s"unknown asset '$name'"))
    if (catalog.currentVersion(name).isEmpty) true
    else if (node.deps.isEmpty) false
    else readManifest(name) match {
      case None => true
      case Some(m) => node.deps.exists(d => !m.get(d).contains(token(d)))
    }
  }

  // ---------------------------------------------------------------------
  // Materialization
  // ---------------------------------------------------------------------

  private def buildOne(node: Node): Unit = {
    for (d <- node.deps if !nodes.contains(d) && !catalog.exists(d))
      throw new IllegalArgumentException(
        s"dependency '$d' of asset '${node.name}' is neither a registered " +
          "asset nor an existing catalog table")
    // capture dependency tokens BEFORE resolving inputs:
    // recording token(d) after the build races a concurrent upstream
    // re-publish — the build reads version N but the manifest would
    // record N+1 and the asset would read as fresh despite being built
    // from stale inputs. Captured-before, the same race leaves the
    // manifest at N ≠ current → stale → one redundant rebuild, the
    // safe side of the crash contract.
    val toks = node.deps.map(d => d -> token(d))
    val inputs = node.deps.map(d => d -> catalog.get(d)).toMap
    catalog.materializeAtomic(node.name, node.build(inputs))
    writeManifest(node.name, toks)
  }

  /** Bring `targets` (default: every registered asset) up to date:
    * walk their upstream closure in topological order, building only
    * stale assets — the `ifNotExists` contract generalized to
    * dependency-aware staleness. Returns the names actually built, in
    * build order (empty when everything was current).
    */
  def materialize(targets: String*): Seq[String] = {
    val want =
      if (targets.isEmpty) nodes.keySet.toSet
      else {
        targets.foreach(t => require(nodes.contains(t), s"unknown asset '$t'"))
        Dag.upstream(declaredGraph, targets.toSet) ++ targets
      }
    val built = scala.collection.mutable.ArrayBuffer.empty[String]
    for (name <- topoOrder if want.contains(name); node = nodes(name)
         if isStale(name)) {
      buildOne(node)
      built += name
    }
    built.toSeq
  }

  /** Force-rebuild `name` (fresh version even if currently up to date —
    * Dagster's re-materialize button) and then bring its now-stale
    * downstream cone current. Assets outside the cone are never touched.
    * Returns everything built, in build order.
    */
  def refresh(name: String): Seq[String] = {
    require(nodes.contains(name), s"unknown asset '$name'")
    // bring the upstream closure current first (NOT name itself — it is
    // force-rebuilt below regardless of staleness)
    val ups = Dag.upstream(declaredGraph, Set(name))
    val upBuilt =
      if (ups.isEmpty) Seq.empty
      else for (n <- topoOrder if ups.contains(n) && isStale(n))
        yield { buildOne(nodes(n)); n }
    buildOne(nodes(name))
    val cone = downstreamOf(name)
    val rest = if (cone.isEmpty) Seq.empty else materialize(cone.toSeq: _*)
    (upBuilt :+ name) ++ rest
  }

  /** (asset, current version if published, stale?) for every registered
    * asset in topological order — the operational "what would a
    * materialize do" view.
    */
  def status(): Seq[(String, Option[Long], Boolean)] =
    topoOrder.map(n => (n, catalog.currentVersion(n), isStale(n)))
}
