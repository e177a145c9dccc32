package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** analytics: the graph-fixpoint and dedup gates of `SparkEntry.queries`,
  * one untimed warm pass and then timed passes. */
object Analytics {
  val Gates: Seq[String] = Seq("q_graph_scc", "q_graph_kcore",
    "q_graph_ktruss", "q_graph_pagerank", "q_graph_lpa", "q_graph_hits",
    "q_graph_sssp", "q_graph_mis", "q_b7_vle_unbounded", "q_incr_wcc",
    "q_incr_pagerank", "q_dedup_jaccard")

  /** Row count and an order-independent digest of a gate's output: the sum
    * of each row's xxhash64 over its columns as text. One Spark action
    * evaluates the whole output. */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    val h = xxhash64(df.columns.map(c => col(c).cast("string")).toSeq: _*)
    val r = df.select(h.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast("decimal(38,0)")))
      .first()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** Expected (rows, digest) per gate over the benchmark's generated data. */
  lazy val Expected: Map[String, (Long, BigDecimal)] = {
    val in = getClass.getResourceAsStream("/perfbench/analytics-expected.tsv")
    if (in == null) Map.empty
    else try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(g, n, d) = l.split("\t")
        g -> (n.toLong, BigDecimal(d))
      }.toMap
    finally in.close()
  }
}

final class Analytics extends Workload {
  import Analytics._
  val name = "analytics"

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    def dropSessionState(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    def once(g: String): (Long, BigDecimal) = {
      val r = digest(graft.SparkEntry.queries(g)(spark, ctx.dataDir))
      dropSessionState()
      r
    }
    def checked(g: String, r: (Long, BigDecimal)): Boolean = {
      val ok = Expected.get(g).contains(r)
      out.check(ok, s"$g: rows ${r._1} digest ${r._2}, want ${Expected.get(g)}")
      ok
    }

    // set-up: the warm pass, which is also the first output check
    val (_, warmMs) = Time.ms(Gates.foreach(g => checked(g, once(g))))
    out.e2e("setup_s") = (warmMs / 1000, "s")

    val gateMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val gateWin = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]
    val passMs = mutable.ArrayBuffer.empty[Double]
    val w0 = ctx.counters.now()
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    do {
      val t0 = System.nanoTime()
      Gates.foreach { g =>
        if (tr.enabled) tr.newOp()
        val a = ctx.counters.now()
        out.op {
          val (r, ms) = tr.span(s"gate.$g")(Time.ms(once(g)))
          if (!checked(g, r)) throw new IllegalStateException(s"$g output differs")
          gateMs.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += ms
        }
        gateWin.getOrElseUpdate(g, mutable.ArrayBuffer.empty) +=
          ((a, ctx.counters.now()))
      }
      passMs += (System.nanoTime() - t0) / 1e6
    } while (System.nanoTime() < deadline)
    val work = ctx.counters.between(w0, ctx.counters.now())

    val all = gateMs.values.flatten.toSeq
    out.check(all.nonEmpty, "no gate completed")
    if (all.isEmpty) return
    val passS = Stats.median(passMs.toSeq) / 1000
    out.e2e("ops_per_s") = (all.size / (passMs.sum / 1000), "1/s")
    out.e2e("op_p50_ms") = (Stats.percentile(all, 50), "ms")
    out.e2e("heavy_p50_ms") = (passS * 1000, "ms")
    out.detail("analytics_s") = (passS, "s")
    out.detail("passes") = (passMs.size.toDouble, "count")

    if (!tr.enabled) return
    ctx.counters.drain()
    Layers.spark(out, work)
    Gates.foreach { g =>
      val xs = gateMs.getOrElse(g, mutable.ArrayBuffer.empty).toSeq
      out.layer(s"gate_s.$g") = (if (xs.isEmpty) 0.0 else Stats.median(xs) / 1000, "s")
      val jobs = gateWin.getOrElse(g, mutable.ArrayBuffer.empty).toSeq
        .map { case (a, b) => ctx.counters.jobsBetween(a, b).toDouble }
      out.layer(s"spark_jobs.$g") = (if (jobs.isEmpty) 0.0 else Stats.median(jobs), "count")
    }
  }
}
