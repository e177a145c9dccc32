package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OpGenSpec extends AnyFunSuite {

  private val keys = OpGen.Keys(
    twins = (0 until 500).map(i => s"T$i"),
    customers = (0 until 300).map(i => s"C$i"),
    nations = (0 until 25).map(i => s"N$i"))

  private def counts(ops: Seq[Op]): Map[String, Int] =
    ops.groupBy {
      case Query(shape, _) => s"query.$shape"
      case Write(kind, _, _, _) => kind
      case o => o.cls
    }.map { case (k, v) => k -> v.size }

  private def keysOf(ops: Seq[Op]): Seq[String] = ops.collect {
    case GetTwin(id) => id
    case ListRels(id) => id
    case Write(_, src, _, _) => src
  }

  for ((name, gen) <- Seq[(String, (Long, Int) => IndexedSeq[Op])](
      "serve_read" -> ((s, b) => OpGen.serveRead(s, keys, b)),
      "serve_write" -> ((s, b) => OpGen.serveWrite(s, keys, b)))) {

    test(s"$name: the same seed gives the same op sequence") {
      assert(gen(42L, 6) == gen(42L, 6))
    }

    test(s"$name: another seed changes keys, not class counts or positions") {
      val a = gen(1L, 6)
      val b = gen(2L, 6)
      assert(a != b)
      assert(keysOf(a) != keysOf(b))
      assert(counts(a) == counts(b))
      assert(a.map(_.cls) == b.map(_.cls))
    }

    test(s"$name: every block holds the block's class counts") {
      val block = if (name == "serve_read") OpGen.ReadBlock else OpGen.WriteBlock
      val size = OpGen.blockSize(block)
      val ops = gen(9L, 4)
      assert(ops.size == 4 * size)
      ops.grouped(size).foreach { b =>
        val c = counts(b)
        block.foreach { case (kind, n) =>
          val got = if (kind == "query") c.filter(_._1.startsWith("query.")).values.sum
            else c.getOrElse(kind, 0)
          assert(got == n, s"$kind in a block")
        }
      }
    }
  }

  test("query shapes rotate evenly over whole rotations") {
    val ops = OpGen.serveRead(3L, keys, OpGen.Shapes.size)
    val perShape = counts(ops).collect { case (k, n) if k.startsWith("query.") => n }
    assert(perShape.toSet.size == 1 && perShape.size == OpGen.Shapes.size)
  }

  test("the block pattern spreads each kind evenly") {
    val p = OpGen.pattern(OpGen.WriteBlock)
    assert(p.size == OpGen.blockSize(OpGen.WriteBlock))
    val queries = p.indices.filter(p(_) == "query")
    // five queries in fifty ops: one in each tenth of the block
    assert(queries.map(_ / 10).distinct.size == 5)
  }

  test("a relationship is deleted only after it was put, and at most once") {
    val live = scala.collection.mutable.Set.empty[(String, String)]
    OpGen.serveWrite(5L, keys, 20).foreach {
      case Write("put_rel", src, key, _) => live += ((src, key))
      case Write("delete_rel", src, key, _) => assert(live.remove((src, key)))
      case _ =>
    }
  }
}
