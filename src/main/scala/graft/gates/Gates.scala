package graft.gates

/** Every oracle gate, one family per name prefix:
  *
  * | family | prefixes |
  * |---|---|
  * | [[ScanGates]] | `s` |
  * | [[RelationalGates]] | `q`, `as`, `rj` |
  * | [[DedupGates]] | `d` |
  * | [[AnnGates]] | `a`, `p`, `e`, `h` |
  * | [[TextGates]] | `t` |
  * | [[MultimodalGates]] | `m` |
  * | [[StreamingGates]] | `st` |
  * | [[GraphMlGates]] | `g`, `ml` |
  */
object Gates {

  lazy val all: Seq[Gate] = unique(Seq(ScanGates, RelationalGates, DedupGates, AnnGates,
    TextGates, MultimodalGates, StreamingGates, GraphMlGates).flatMap(_.gates))

  /** `gates` itself, refused when two share a name: a map keyed by name
    * would silently keep only the last. */
  private[graft] def unique(gates: Seq[Gate]): Seq[Gate] = {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty, s"duplicate gate names: ${dups.toSeq.sorted.mkString(", ")}")
    gates
  }
}
