package graft.core

/** Pure dependency-graph machinery behind [[AssetDag]] (the
  * catalog-backed asset materializer): deterministic topological order
  * with loud cycle/unknown-dep diagnostics, plus transitive closure in
  * either direction.
  *
  * All functions take the graph as `(name, deps)` pairs in REGISTRATION
  * order and are deterministic: among simultaneously-ready nodes the
  * earliest-registered wins, so a given registry always materializes in
  * the same order — reruns are comparable and failures reproducible.
  */
object Dag {

  /** Kahn topological sort over the declared graph. Every dependency
    * must itself be declared (an undeclared name would silently break
    * the ordering guarantee, so it throws, naming the offender); a
    * dependency cycle throws with the full set of entangled nodes.
    */
  def topoSort(nodes: Seq[(String, Seq[String])]): Seq[String] = {
    val names = nodes.map(_._1)
    require(names.distinct.size == names.size,
      s"duplicate node registration: ${names.diff(names.distinct).distinct.mkString(", ")}")
    val known = names.toSet
    for ((n, ds) <- nodes; d <- ds if !known.contains(d))
      throw new IllegalArgumentException(
        s"node '$n' depends on undeclared node '$d'")
    val remainingDeps = scala.collection.mutable.LinkedHashMap(
      nodes.map { case (n, ds) => n -> scala.collection.mutable.Set(ds: _*) }: _*)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (remainingDeps.nonEmpty) {
      val ready = remainingDeps.collectFirst { case (n, ds) if ds.isEmpty => n }
      ready match {
        case Some(n) =>
          remainingDeps.remove(n)
          remainingDeps.values.foreach(_.remove(n))
          out += n
        case None =>
          throw new IllegalArgumentException(
            s"dependency cycle among: ${remainingDeps.keys.mkString(", ")}")
      }
    }
    out.toSeq
  }

  /** Strict transitive CONSUMERS of `roots` (excluding the roots
    * themselves): the downstream cone a root rebuild invalidates.
    */
  def downstream(nodes: Seq[(String, Seq[String])], roots: Set[String]): Set[String] = {
    val consumers = nodes.flatMap { case (n, ds) => ds.map(_ -> n) }
      .groupBy(_._1).map { case (d, ps) => d -> ps.map(_._2) }
    var cone = Set.empty[String]
    var frontier = roots
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(consumers.getOrElse(_, Nil)).diff(cone)
      cone ++= next
      frontier = next
    }
    cone -- roots
  }

  /** Transitive DEPENDENCIES of `roots` (excluding the roots): the
    * upstream closure that must be current before the roots can build.
    */
  def upstream(nodes: Seq[(String, Seq[String])], roots: Set[String]): Set[String] = {
    val deps = nodes.toMap
    var closure = Set.empty[String]
    var frontier = roots
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(n => deps.getOrElse(n, Nil)).diff(closure)
      closure ++= next
      frontier = next
    }
    closure -- roots
  }
}
