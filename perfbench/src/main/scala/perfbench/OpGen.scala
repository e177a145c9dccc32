package perfbench

import scala.collection.mutable.ArrayBuffer

/** One client op of a serve workload. `cls` is its percentile class. */
sealed trait Op { def cls: String }
final case class GetTwin(id: String) extends Op { def cls = "get_twin" }
final case class ListRels(id: String) extends Op { def cls = "list_rels" }
/** A single-page query; `param` is the twin it is pinned to, if any. */
final case class Query(shape: String, param: String) extends Op {
  def cls = "query"
}
case object Drain extends Op { def cls = "drain" }
/** A write; `kind` is one of [[OpGen.WriteKinds]]. */
final case class Write(kind: String, src: String, key: String, target: String)
    extends Op { def cls = "write" }

/** Seeded op sequences for the serve workloads. A sequence is a run of
  * blocks. Every block holds the same ops of each kind at the same
  * positions, spread evenly, so each query meets the same journal tail in
  * every run; the seed picks the keys. A seed thus fixes the sequence, and
  * another seed changes only the keys. */
object OpGen {

  val Shapes: Seq[String] =
    Seq("model_exact", "prop_filter", "join_related", "count_model",
      "cypher_2hop")
  val Segments: Seq[String] =
    Seq("MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE")
  val WriteKinds: Seq[String] =
    Seq("create_twin", "patch_twin", "put_rel", "delete_rel")

  /** Ops per block, by kind, for each workload. The query share rotates
    * over [[Shapes]]. */
  val ReadBlock: Seq[(String, Int)] =
    Seq("get_twin" -> 35, "list_rels" -> 5, "query" -> 9, "drain" -> 1)
  val WriteBlock: Seq[(String, Int)] =
    Seq("create_twin" -> 8, "patch_twin" -> 8, "put_rel" -> 9,
      "delete_rel" -> 8, "get_twin" -> 10, "list_rels" -> 1, "query" -> 5,
      "drain" -> 1)

  /** Keys a sequence draws from: every twin id (GETs), customer ids (the
    * pinned sources, patches and new edges) and nation ids (edge targets and
    * the pinned 2-hop start). */
  final case class Keys(twins: IndexedSeq[String],
      customers: IndexedSeq[String], nations: IndexedSeq[String])

  def blockSize(block: Seq[(String, Int)]): Int = block.map(_._2).sum

  /** The kinds of one block in order: smooth weighted round-robin, so each
    * kind is spread evenly over the block. A delete that would precede
    * every put trades places with the next put. */
  def pattern(block: Seq[(String, Int)]): IndexedSeq[String] = {
    val total = blockSize(block)
    val credit = Array.fill(block.size)(0)
    val kinds = Array.fill(total) {
      block.indices.foreach(i => credit(i) += block(i)._2)
      val i = credit.indices.maxBy(credit(_))
      credit(i) -= total
      block(i)._1
    }
    var live = 0
    for (i <- kinds.indices) {
      if (kinds(i) == "delete_rel" && live == 0) {
        val j = kinds.indexWhere(_ == "put_rel", i + 1)
        kinds(j) = "delete_rel"; kinds(i) = "put_rel"
      }
      if (kinds(i) == "put_rel") live += 1
      if (kinds(i) == "delete_rel") live -= 1
    }
    kinds.toIndexedSeq
  }

  def serveRead(seed: Long, keys: Keys, blocks: Int): IndexedSeq[Op] =
    generate(seed, keys, blocks, ReadBlock)

  def serveWrite(seed: Long, keys: Keys, blocks: Int): IndexedSeq[Op] =
    generate(seed, keys, blocks, WriteBlock)

  private def generate(seed: Long, keys: Keys, blocks: Int,
      block: Seq[(String, Int)]): IndexedSeq[Op] = {
    val rnd = new scala.util.Random(seed)
    def pick(xs: IndexedSeq[String]) = xs(rnd.nextInt(xs.size))
    val order = pattern(block)
    val liveRels = scala.collection.mutable.Queue.empty[(String, String)]
    var shapeIx = 0
    (0 until blocks * order.size).map { n =>
      order(n % order.size) match {
        case "get_twin" => GetTwin(pick(keys.twins))
        case "list_rels" => ListRels(pick(keys.customers))
        case "drain" => Drain
        case "query" =>
          val shape = Shapes(shapeIx % Shapes.size)
          shapeIx += 1
          val param = shape match {
            case "join_related" => pick(keys.customers)
            case "cypher_2hop" => pick(keys.nations)
            case _ => ""
          }
          Query(shape, param)
        case "create_twin" =>
          Write("create_twin", s"X${seed}_$n", s"X${seed}_$n", "")
        case "patch_twin" =>
          Write("patch_twin", pick(keys.customers), "", "")
        case "put_rel" =>
          val src = pick(keys.customers)
          liveRels.enqueue((src, s"w${seed}_$n"))
          Write("put_rel", src, s"w${seed}_$n", pick(keys.nations))
        case "delete_rel" =>
          val (src, rid) = liveRels.dequeue()
          Write("delete_rel", src, rid, "")
      }
    }
  }
}
