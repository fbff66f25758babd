package graft.plans

/** The logical IR: a DAG of stream-operator vertices, mirroring the
  * reference's `StreamGraph` (`src/Striot/StreamGraph.hs:57-119`) — an
  * operator ADT with selectivity/rate annotations, parameters, and
  * stringly-typed in/out types used by the rewrite rules' compatibility
  * checks.
  *
  * Where the reference carries parameters as quoted Template-Haskell
  * expressions (`parameters :: [ExpQ]`), we carry a [[Param]]: a real Scala
  * function (so graphs are directly interpretable — see [[Interpreter]])
  * paired with a source string (so rewrites can be displayed and compared,
  * like the reference's `deQ`-based param equality). Param equality is by
  * source string.
  *
  * In Spark, this IR is an authoring/analysis surface: rules rewrite it
  * (LogicalOptimiser parity), the Jackson/Bandwidth models cost it, and it
  * lowers to a Dataset chain via the typed operators. Catalyst then performs
  * its own (overlapping) optimizations on the lowered plan.
  */
sealed trait StreamOperator {
  /** Operator name for display/comparison. */
  def name: String = this match {
    case OpMap           => "Map"
    case OpFilter(_)     => "Filter"
    case OpExpand        => "Expand"
    case OpWindow        => "Window"
    case OpMerge         => "Merge"
    case OpJoin          => "Join"
    case OpScan          => "Scan"
    case OpFilterAcc(_)  => "FilterAcc"
    case OpSource(_)     => "Source"
    case OpSink          => "Sink"
  }
}
case object OpMap extends StreamOperator
/** @param sel estimated selectivity (fraction of events passing) */
final case class OpFilter(sel: Double) extends StreamOperator
case object OpExpand extends StreamOperator
case object OpWindow extends StreamOperator
case object OpMerge extends StreamOperator
case object OpJoin extends StreamOperator
case object OpScan extends StreamOperator
final case class OpFilterAcc(sel: Double) extends StreamOperator
/** @param rate mean event arrival rate (events/sec) */
final case class OpSource(rate: Double) extends StreamOperator
case object OpSink extends StreamOperator

/** An operator parameter: executable function + displayable source.
  * Equality is on the source string only (the reference compares de-quoted
  * parameter code, `identicalParams`). */
final class Param(val src: String, val fn: Any) extends Serializable {
  override def equals(o: Any): Boolean = o match {
    case p: Param => p.src == src
    case _        => false
  }
  override def hashCode: Int = src.hashCode
  override def toString: String = src
}
object Param {
  def apply(src: String, fn: Any): Param = new Param(src, fn)
}

/** Mirrors reference `StreamVertex` (`StreamGraph.hs:57-64`). */
final case class StreamVertex(
    id: Int,
    op: StreamOperator,
    params: List[Param],
    inType: String,
    outType: String,
    serviceRate: Double)

/** DAG of [[StreamVertex]] with the small algebra the rewrite rules need
  * (replace/merge/remove/overlay — the subset of algebraic-graphs operations
  * the reference rules use). Vertices are keyed by `id`. */
final case class StreamGraph(vertices: Vector[StreamVertex], edges: Vector[(Int, Int)]) {

  lazy val byId: Map[Int, StreamVertex] = vertices.map(v => v.id -> v).toMap

  def vertexList: Vector[StreamVertex] = vertices.sortBy(_.id)
  def edgeList: Vector[(StreamVertex, StreamVertex)] =
    edges.sorted.map { case (a, b) => (byId(a), byId(b)) }

  def successors(id: Int): Vector[Int] = edges.collect { case (a, b) if a == id => b }.sorted
  def predecessors(id: Int): Vector[Int] = edges.collect { case (a, b) if b == id => a }.sorted

  def newVertexId: Int = if (vertices.isEmpty) 0 else vertices.map(_.id).max + 1

  /** Replace a vertex (matched by id) with a new one; edges follow. */
  def replaceVertex(old: StreamVertex, nw: StreamVertex): StreamGraph = {
    val vs = vertices.filterNot(_.id == old.id)
    val merged =
      if (vs.exists(_.id == nw.id)) vs // collapsing onto an existing id
      else vs :+ nw
    val es = edges.map { case (a, b) =>
      (if (a == old.id) nw.id else a, if (b == old.id) nw.id else b)
    }.distinct
    StreamGraph(merged, es)
  }

  /** Merge all vertices satisfying p into vertex v (reference
    * `mergeVertices`): edges touching any of them are redirected to v. */
  def mergeVertices(p: StreamVertex => Boolean, v: StreamVertex): StreamGraph = {
    val hit = vertices.filter(p).map(_.id).toSet
    val vs = vertices.filterNot(x => hit.contains(x.id))
    val withV = if (vs.exists(_.id == v.id)) vs else vs :+ v
    val es = edges.map { case (a, b) =>
      (if (hit.contains(a)) v.id else a, if (hit.contains(b)) v.id else b)
    }.distinct
    StreamGraph(withV, es)
  }

  def removeEdge(a: Int, b: Int): StreamGraph =
    copy(edges = edges.filterNot(_ == (a, b)))

  /** Union of two graphs (reference `overlay`): vertices by id, edges. */
  def overlay(other: StreamGraph): StreamGraph = {
    val vs = (vertices ++ other.vertices.filterNot(v => vertices.exists(_.id == v.id)))
    StreamGraph(vs, (edges ++ other.edges).distinct)
  }

  def addVertex(v: StreamVertex): StreamGraph =
    if (vertices.exists(_.id == v.id)) this else copy(vertices = vertices :+ v)

  def sources: Vector[StreamVertex] =
    vertexList.filter(v => v.op.isInstanceOf[OpSource])
  def sinks: Vector[StreamVertex] = vertexList.filter(_.op == OpSink)

  /** Topological order (Kahn, ties by id — deterministic). */
  def topoOrder: Vector[StreamVertex] = {
    var inDeg = vertices.map(v => v.id -> predecessors(v.id).length).toMap
    var ready = vertices.filter(v => inDeg(v.id) == 0).map(_.id).sorted
    var out = Vector.empty[Int]
    while (ready.nonEmpty) {
      val n = ready.head
      ready = ready.tail
      out :+= n
      for (s <- successors(n)) {
        inDeg += s -> (inDeg(s) - 1)
        if (inDeg(s) == 0) ready = (ready :+ s).sorted
      }
    }
    out.map(byId)
  }

  /** Structural equality modulo vertex renumbering (reference `graphEq`,
    * `StreamGraph.hs:262-324`): canonicalize ids by topological position. */
  def isoEq(other: StreamGraph): Boolean =
    canonicalize == other.canonicalize

  private def canonicalize: (Vector[(Int, String, List[String], String, String, Double)], Vector[(Int, Int)]) = {
    val order = topoOrder.map(_.id).zipWithIndex.toMap
    (vertexList.sortBy(v => order(v.id)).map(v =>
       (order(v.id), v.op.toString, v.params.map(_.src), v.inType, v.outType, v.serviceRate)),
     edges.map { case (a, b) => (order(a), order(b)) }.sorted)
  }

  def show: String =
    vertexList.map(v => s"${v.id}: ${v.op} ${v.params.mkString("[", ", ", "]")} :: ${v.inType} -> ${v.outType} @${v.serviceRate}")
      .mkString("\n") + "\nedges: " + edges.sorted.mkString(", ")
}

object StreamGraph {
  /** Linear pipeline builder (reference `path` / `simpleStream`,
    * `StreamGraph.hs:135-142`). */
  def path(vs: Seq[StreamVertex]): StreamGraph =
    StreamGraph(vs.toVector, vs.toVector.sliding(2).collect {
      case Vector(a, b) => (a.id, b.id)
    }.toVector)
}
