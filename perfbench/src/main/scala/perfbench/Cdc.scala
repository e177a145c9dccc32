package perfbench

import scala.collection.mutable
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.core.Tables
import graft.events.CloudEventFactory
import graft.graph.{GraphViews, IncrementalAnalytics}
import graft.store.{MutationEvent, TableTwinStore}
import graft.streaming.EventPipeline

/** cdc_stream: a mutation feed written through the store's CRUD API, then
  * drained one journal file per trigger through the EventNotification
  * route, the DataHistory route and the components maintainer. */
object Cdc {
  /** Journal files in the feed; each is one `store.batch`. */
  val Batches = 3
  /** Per batch: twin patches, new relationships, and deletes of the
    * previous batch's new relationships. */
  val PerBatch = 100
  val SetupRepeats = 3
  val Source = "perfbench"
  val Routes: Seq[String] = Seq("notifications", "datahistory", "maintainer")
  val Phases: Seq[String] = Seq("latestOffset", "getBatch", "queryPlanning",
    "walCommit", "addBatch", "commitOffsets")
}

final class Cdc extends Workload {
  import Cdc._
  val name = "cdc_stream"

  /** Write the seeded feed; returns the store (journal under its dir). */
  private def writeFeed(ctx: Ctx, storeDir: String): TableTwinStore = {
    val st = Place.importStore(ctx.spark, ctx.dataDir, storeDir)
    val rows = st.graph.twins.select(col("dt_id"), col("model_id")).collect()
    val customers = rows.filter(_.getString(1) == GraphViews.Customer)
      .map(_.getString(0)).sorted
    val nations = rows.filter(_.getString(1) == GraphViews.Nation)
      .map(_.getString(0)).sorted
    val rnd = new scala.util.Random(ctx.seed)
    var prev = Seq.empty[(String, String)]
    for (b <- 0 until Batches) {
      val added = (0 until PerBatch).map { j =>
        (customers(rnd.nextInt(customers.length)), s"cdc${ctx.seed}_${b}_$j")
      }
      st.batch {
        (0 until PerBatch).foreach { _ =>
          st.patchTwin(customers(rnd.nextInt(customers.length)),
            s"""[{"op":"replace","path":"/acctbal","value":${rnd.nextInt(900000) / 100.0}}]""",
            None, None)
        }
        added.foreach { case (src, rid) =>
          st.createOrReplaceRelationship(src, rid,
            s"""{"$$relationshipName":"located_in",""" +
              s""""$$targetId":"${nations(rnd.nextInt(nations.length))}"}""",
            false)
        }
        prev.foreach { case (src, rid) => st.deleteRelationship(src, rid) }
      }
      prev = added
    }
    st
  }

  /** A fresh store with the feed written, and the maintainer state as of
    * the import; returns the store and its state directory. */
  private def setUp(ctx: Ctx, i: Int): (TableTwinStore, String) = {
    val store = writeFeed(ctx, ctx.dir(s"store$i"))
    val baseG = GraphViews.graph(ctx.spark, ctx.dataDir)
    val baseRels = baseG.relationships
      .select(col("relationship_id"), col("source_id"), col("target_id"),
        col("relationship_name")).localCheckpoint(true)
    val baseComp = baseG.copy(relationships = baseRels).components()
      .localCheckpoint(true)
    val stateDir = ctx.dir(s"comp-state$i")
    IncrementalAnalytics.initComponentsState(stateDir, baseComp, baseRels)
    (store, stateDir)
  }

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.tracer

    // set-up, repeated: import, feed, maintainer state; the last is drained
    var last: (TableTwinStore, String) = null
    val setupMs = (1 to SetupRepeats).map { i =>
      val (st, ms) = Time.ms(setUp(ctx, i))
      last = st
      ms
    }
    val (store, stateDir) = last
    out.e2e("setup_s") = (Stats.median(setupMs) / 1000, "s")
    ctx.log(s"set-ups ms: ${setupMs.map(_.round).mkString(" ")}")
    val mutDir = ctx.dir(s"store$SetupRepeats") + "/mutations"
    val files = Option(new java.io.File(mutDir).listFiles()).toSeq.flatten
      .count(_.getName.endsWith(".parquet"))
    out.check(files == Batches, s"feed has $files journal files, want $Batches")
    val journal = EventPipeline.mutationsToDataset(spark,
      spark.read.schema(Tables.mutationsSchema).parquet(mutDir))
    val inputRows = journal.count()

    // driver-side CloudEvents of the same journal rows, for the checks
    val muts = EventPipeline.validMutations(journal).collect().toSeq
    val (notifWant, notifMs) = Time.ms(tr.span("events.convert")(
      muts.flatMap(m => CloudEventFactory.eventNotification(m, Source))))
    val (dhWant, dhMs) = Time.ms(tr.span("events.convert")(
      muts.flatMap(m => CloudEventFactory.dataHistory(m, Source))))
    val want = Map("notifications" -> notifWant.map(_.id).sorted,
      "datahistory" -> dhWant.map(_.id).sorted)

    def stream(dir: String): Dataset[MutationEvent] =
      EventPipeline.mutationsToDataset(spark, spark.readStream
        .schema(Tables.mutationsSchema).option("maxFilesPerTrigger", "1")
        .parquet(dir))
    /** Start one route over the journal in `dir`; `tag` names its sink and
      * checkpoint directories. */
    def start(route: String, dir: String, tag: String, state: String)
        : StreamingQuery = route match {
      case "notifications" => EventPipeline.runRoute(
        EventPipeline.toEventNotifications(stream(dir), Source),
        ctx.dir(s"sink-$tag"), ctx.dir(s"cp-$tag"))
      case "datahistory" => EventPipeline.runRoute(
        EventPipeline.toDataHistory(stream(dir), Source),
        ctx.dir(s"sink-$tag"), ctx.dir(s"cp-$tag"))
      case "maintainer" => IncrementalAnalytics.maintainComponentsStream(
        spark, dir, state, ctx.dir(s"cp-$tag"), Map("maxFilesPerTrigger" -> "1"))
    }

    // warm-up, untimed: each route once over the first journal file of the
    // first set-up, so that no timed trigger pays first-run compilation
    val warmDir = ctx.dir("warm-feed")
    val first = new java.io.File(ctx.dir("store1"), "mutations").listFiles()
      .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    java.nio.file.Files.copy(first.toPath, new java.io.File(warmDir, first.getName).toPath)
    Routes.foreach { r =>
      val q = start(r, warmDir, s"warm-$r", ctx.dir("comp-state1"))
      q.awaitTermination()
      out.check(q.exception.isEmpty, s"warm-up $r failed: ${q.exception}")
    }
    ctx.log("warm-up done; measuring")

    val progress = mutable.Map.empty[String, Seq[StreamingQueryProgress]]
      .withDefaultValue(Nil)
    /** Drain the whole feed through one stream; returns its wall ms. */
    def drain(route: String, tag: String): Double = {
      tr.newOp()
      out.op {
        val (q, ms) = tr.span(s"streaming.$route")(Time.ms {
          val q = start(route, mutDir, tag, stateDir)
          q.awaitTermination()
          q
        })
        val ps = q.recentProgress.toSeq.filter(_.numInputRows > 0)
        require(q.exception.isEmpty, s"$route stream failed: ${q.exception}")
        require(ps.size == Batches,
          s"$route ran ${ps.size} triggers with input, want $Batches")
        progress(route) = progress(route) ++ ps
        ms
      }.getOrElse(0.0)
    }
    def sinkIds(tag: String): Seq[String] = spark.read.parquet(ctx.dir(s"sink-$tag"))
      .select(col("id")).as[String].collect().toSeq.sorted

    // timed: rounds of both event routes until the time is used, then the
    // maintainer over the same feed
    val w0 = ctx.counters.now()
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var rounds = 0
    var routeMs = 0.0
    var sinkRows = 0L
    do {
      rounds += 1
      Seq("notifications", "datahistory").foreach { r =>
        routeMs += drain(r, s"$r-$rounds")
        val got = sinkIds(s"$r-$rounds")
        sinkRows += got.size
        out.check(got == want(r),
          s"$r sink, round $rounds: ${got.size} event ids, factory ${want(r).size}")
      }
    } while (System.nanoTime() < deadline)
    drain("maintainer", "maintainer")
    val work = ctx.counters.between(w0, ctx.counters.now())
    ctx.log(s"drained $rounds rounds; maintainer triggers ms: " +
      progress("maintainer").map(_.durationMs.get("triggerExecution")).mkString(" "))

    // the maintained components against a full recompute on the final graph
    val c0 = ctx.counters.now()
    val (full, compMs) = tr.span("graph.components")(
      Time.ms(store.graph.components().localCheckpoint(true)))
    val c1 = ctx.counters.now()
    val maintained = IncrementalAnalytics.currentComponents(spark, stateDir)
      .select(col("dt_id"), col("component"))
    val diff = full.exceptAll(maintained).count() +
      maintained.exceptAll(full).count()
    out.check(diff == 0, s"maintained components differ from recompute in $diff rows")
    ctx.log("checked")

    def trig(r: String): Seq[Double] =
      progress(r).map(_.durationMs.get("triggerExecution").toDouble)
    val routeTrig = trig("notifications") ++ trig("datahistory")
    if (routeTrig.isEmpty || trig("maintainer").isEmpty) return
    val eventsPerS = 2 * rounds * inputRows / (routeMs / 1000)
    out.e2e("ops_per_s") = (eventsPerS, "1/s")
    out.e2e("op_p50_ms") = (Stats.percentile(routeTrig, 50), "ms")
    out.e2e("heavy_p50_ms") = (Stats.median(trig("maintainer")), "ms")
    out.detail("cdc_events_per_s") = (eventsPerS, "1/s")
    out.detail("cdc_batch_p50_ms") = (Stats.median(routeTrig), "ms")
    out.detail("maintainer_batch_p50_ms") = (Stats.median(trig("maintainer")), "ms")
    out.detail("input_mutations") = (inputRows.toDouble, "count")
    out.detail("rounds") = (rounds.toDouble, "count")

    if (!tr.enabled) return
    ctx.counters.drain()
    Layers.spark(out, work)
    out.layer("events.convert_us") =
      ((notifMs + dhMs) * 1000 / math.max(1, 2 * muts.size), "us")
    out.layer("events.out_per_mutation") =
      (sinkRows.toDouble / (2 * rounds * inputRows), "ratio")
    Routes.foreach { r =>
      Phases.foreach { p =>
        val xs = progress(r).map(pr =>
          Option(pr.durationMs.get(p)).map(_.toDouble).getOrElse(0.0))
        out.layer(s"streaming.${p}_ms.$r") = (Stats.median(xs), "ms")
      }
    }
    val versions = Option(new java.io.File(stateDir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
    val vBytes = versions.map(v => Serve.dirBytes(v.getPath).toDouble)
    out.layer("graph.state_bytes_per_version") =
      (if (vBytes.isEmpty) 0.0 else Stats.median(vBytes), "B")
    def parquetFiles(f: java.io.File): Int =
      if (f.isFile) (if (f.getName.endsWith(".parquet")) 1 else 0)
      else Option(f.listFiles()).toSeq.flatten.map(parquetFiles).sum
    out.layer("graph.state_files") =
      (parquetFiles(new java.io.File(stateDir)).toDouble, "count")
    out.layer("graph.components_ms") = (compMs, "ms")
    out.layer("graph.components_jobs") =
      (ctx.counters.jobsBetween(c0, c1).toDouble, "count")
  }
}
