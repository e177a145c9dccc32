package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.adt.{AdtPlanner, QueryLanguage, QueryService}
import graft.api.HttpApi
import graft.graph.GraphViews
import graft.json.{Json, JsonPatch}
import graft.store.{StoreException, TableTwinStore}

/** The serve workloads: one client, closed loop, over HTTP against
  * `HttpApi` on an imported place-graph store. */
object Serve {
  val PageSize = 2000
  /** Operator fold policy of serve_write: a checkpoint every 50 writes. */
  val CheckpointEvery = 50
  /** Imports made in set-up; `setup_s` is their median. */
  val SetupRepeats = 3

  val DrainQuery: String = "SELECT T.$dtId AS id FROM DIGITALTWINS T " +
    s"WHERE IS_OF_MODEL(T, '${GraphViews.Customer}', exact)"

  /** The query of a shape; every column is aliased, as ADT clients do. */
  def queryText(shape: String, param: String): String = shape match {
    case "model_exact" => "SELECT T.$dtId AS id FROM DIGITALTWINS T " +
      s"WHERE IS_OF_MODEL(T, '${GraphViews.Nation}', exact)"
    case "prop_filter" =>
      "SELECT T.$dtId AS id, T.acctbal AS acctbal FROM DIGITALTWINS T " +
        "WHERE T.mktsegment = 'BUILDING' AND T.acctbal > 9990"
    case "join_related" =>
      "SELECT N.$dtId AS nation FROM DIGITALTWINS C " +
        s"JOIN N RELATED C.located_in WHERE C.$$dtId = '$param'"
    case "count_model" => "SELECT COUNT() FROM DIGITALTWINS T " +
      s"WHERE IS_OF_MODEL(T, '${GraphViews.Nation}')"
    case "cypher_2hop" =>
      "MATCH (c:Twin)-[:located_in]->(n:Twin)-[:in_region]->(r:Twin) " +
        s"WHERE n.`$$dtId` = '$param' " +
        "RETURN c.`$dtId` AS c, n.`$dtId` AS n, r.`$dtId` AS r"
  }

  /** Expected answers: base counts from plain Spark SQL over the tables,
    * moved by every acknowledged write. */
  final class Expected(spark: SparkSession, dataDir: String) {
    private def table(t: String) =
      spark.read.parquet(s"$dataDir/$t.parquet").createOrReplaceTempView(t)
    Seq("region", "nation", "customer", "supplier").foreach(table)
    private def one(sql: String): Long = spark.sql(sql).first().getLong(0)

    val regions: Long = one("SELECT count(*) FROM region")
    val nations: Long = one("SELECT count(*) FROM nation")
    val customers: Long = one("SELECT count(*) FROM customer")
    val places: Long = nations + customers +
      one("SELECT count(*) FROM supplier")
    private val richBase: Set[String] = spark.sql(
      "SELECT concat('C', c_custkey) FROM customer " +
        "WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9990")
      .collect().map(_.getString(0)).toSet
    /** Customers plus suppliers located in each nation twin. */
    private val perNation: Map[String, Long] = spark.sql(
      """SELECT concat('N', k) AS n, count(*) AS c FROM (
        |  SELECT c_nationkey AS k FROM customer
        |  UNION ALL SELECT s_nationkey FROM supplier) m
        |JOIN nation ON n_nationkey = k GROUP BY k""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    private var created = 0L
    private val patched = mutable.Set.empty[String]
    private val liveRels = mutable.Map.empty[(String, String), String]

    /** Account for an acknowledged write. Created and patched twins get a
      * balance below 9990, so they never match `prop_filter`. */
    def onWrite(w: Write): Unit = w.kind match {
      case "create_twin" => created += 1
      case "patch_twin" => patched += w.src
      case "put_rel" => liveRels((w.src, w.key)) = w.target
      case "delete_rel" => liveRels.remove((w.src, w.key))
    }

    def customerTwins: Long = customers + created
    def placeTwins: Long = places + created

    def rows(shape: String, param: String): Long = shape match {
      case "model_exact" => nations
      case "prop_filter" => (richBase -- patched).size.toLong
      case "join_related" => 1L + liveRels.keys.count(_._1 == param)
      case "count_model" => 1L
      case "cypher_2hop" =>
        perNation.getOrElse(param, 0L) + liveRels.values.count(_ == param)
    }
  }

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(c => dirBytes(c.getPath)).sum
  }
}

final class Serve(write: Boolean) extends Workload {
  import Serve._

  val name: String = if (write) "serve_write" else "serve_read"

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark

    // set-up: fresh stores, each importing the whole place graph
    var storeDir = ""
    var store: TableTwinStore = null
    val importMs = (1 to SetupRepeats).map { i =>
      storeDir = ctx.dir(s"store$i")
      val (st, ms) = Time.ms(Place.importStore(spark, ctx.dataDir, storeDir))
      store = st
      ms
    }
    out.e2e("setup_s") = (Stats.median(importMs) / 1000, "s")
    out.layer("store.import_s") = (Stats.median(importMs) / 1000, "s")
    ctx.log(s"imports ms: ${importMs.map(_.round).mkString(" ")}")

    val rows = store.graph.twins.select(col("dt_id"), col("model_id")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    def idsOf(model: Option[String]) = rows.collect {
      case (id, m) if model.forall(_ == m) => id
    }.sorted.toIndexedSeq
    val keys = OpGen.Keys(idsOf(None), idsOf(Some(GraphViews.Customer)),
      idsOf(Some(GraphViews.Nation)))
    val expected = new Expected(spark, ctx.dataDir)
    val tableTwins = expected.places + expected.regions
    out.check(keys.twins.size == tableTwins,
      s"imported ${keys.twins.size} twins, tables hold $tableTwins")

    // enough ops for any run; the loop stops at a block boundary
    val blocks = 400
    val ops =
      if (write) OpGen.serveWrite(ctx.seed, keys, blocks)
      else OpGen.serveRead(ctx.seed, keys, blocks)
    val block = OpGen.blockSize(if (write) OpGen.WriteBlock else OpGen.ReadBlock)

    val api = new HttpApi(store, () => spark)
    api.start()
    try {
      val s = new Session(ctx, out, store, storeDir, new Http(api.port),
        expected)
      // warm-up, untimed: one op of each class and shape
      val warm =
        if (write) OpGen.serveWrite(ctx.seed + 1, keys, 1)
        else OpGen.serveRead(ctx.seed + 1, keys, 1)
      val firsts = warm.filter {
        case w: Write => w.kind != "delete_rel"
        case _ => true
      }.distinctBy {
        case q: Query => q.shape
        case w: Write => w.kind
        case o => o.cls
      }
      val deletes = firsts.collect {
        case w: Write if w.kind == "put_rel" => w.copy(kind = "delete_rel")
      }
      (firsts ++ deletes).foreach(o => s.exec(o, timed = false))

      ctx.log("warm-up done; measuring")
      val t0 = System.nanoTime()
      val w0 = ctx.counters.now()
      val deadline = t0 + ctx.seconds * 1000000000L
      var i = 0
      // whole blocks, at least two, so each class keeps its share
      while (System.nanoTime() < deadline || i % block != 0 || i < 2 * block) {
        s.exec(ops(i), timed = true)
        i += 1
      }
      val wallNs = System.nanoTime() - t0 - s.checkpointNs
      val work = ctx.counters.between(w0, ctx.counters.now())
      ctx.log(s"measured $i ops")
      s.report(wallNs / 1e9, work)
      if (write) s.verifyReopen()
      ctx.log("checked")
    } finally api.stop()
  }

  /** One client's state over a run. */
  private final class Session(ctx: Ctx, out: Outcome, store: TableTwinStore,
      storeDir: String, http: Http, expected: Expected) {
    private val tr = ctx.tracer
    private val lat = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    private def sample(cls: String, ms: Double): Unit =
      lat.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += ms
    /** Time windows of each shape's HTTP calls, for job attribution. */
    private val windows = mutable.ArrayBuffer.empty[(String, Long, Long)]
    private val pendingAtQuery = mutable.ArrayBuffer.empty[Double]
    private val perKind = mutable.Map.empty[String, Int].withDefaultValue(0)
    private val finalTwin = mutable.Map.empty[String, String]
    private val finalRel = mutable.Map.empty[(String, String), Option[String]]
    private val checkpointMs = mutable.ArrayBuffer.empty[Double]
    private var writes = 0
    private var sinceCheckpoint = 0
    private var journalBytes = 0L
    var checkpointNs = 0L

    private def journalDir = s"$storeDir/mutations"

    def exec(o: Op, timed: Boolean): Unit = {
      if (tr.enabled) tr.newOp()
      val ms = if (timed) out.op(call(o)) else {
        try Some(call(o))
        catch {
          case scala.util.control.NonFatal(e) =>
            out.check(false, s"warm-up ${o.cls} failed: ${e.getMessage}")
            None
        }
      }
      if (timed) ms.foreach(sample(o.cls, _))
      if (tr.enabled) replay(o)
      o match {
        case _: Write =>
          writes += 1; sinceCheckpoint += 1
          if (sinceCheckpoint >= CheckpointEvery) checkpoint()
        case _ =>
      }
    }

    private def checkpoint(): Unit = {
      journalBytes += dirBytes(journalDir)
      val t0 = System.nanoTime()
      tr.span("store.checkpoint")(store.checkpoint())
      val ns = System.nanoTime() - t0
      checkpointNs += ns
      checkpointMs += ns / 1e6
      sinceCheckpoint = 0
    }

    private def timedHttp(span: String)(f: => Reply): (Reply, Double) =
      tr.span(span)(Time.ms(f))

    /** The op's HTTP call and its checks; returns the latency in ms. */
    private def call(o: Op): Double = o match {
      case GetTwin(id) =>
        val (r, ms) = timedHttp("api.get_twin")(
          http.send("GET", s"/digitaltwins/$id"))
        val got = Json.parse(r.body).get("$dtId")
        require(got != null && got.asText() == id,
          s"GET $id returned ${r.body.take(100)}")
        ms

      case ListRels(id) =>
        val (r, ms) = timedHttp("api.list_rels")(
          http.send("GET", s"/digitaltwins/$id/relationships"))
        val v = Json.parse(r.body).get("value")
        require(v != null && v.size() >= 1 &&
          v.elements().asScala.forall(_.get("$sourceId").asText() == id),
          s"relationships of $id: ${r.body.take(100)}")
        ms

      case Query(shape, param) =>
        pendingAtQuery += sinceCheckpoint
        val w0 = ctx.counters.now()
        val (r, ms) = timedHttp(s"api.query.$shape")(
          http.query(queryText(shape, param)))
        windows += ((shape, w0, ctx.counters.now()))
        val node = Json.parse(r.body)
        val v = node.get("value")
        require(v != null && node.get("continuationToken") == null,
          s"$shape: not a single page")
        val want = expected.rows(shape, param)
        require(v.size() == want, s"$shape($param): ${v.size()} rows, want $want")
        if (shape == "count_model") {
          val n = v.get(0).elements().next().asLong()
          require(n == expected.placeTwins,
            s"count_model: $n, want ${expected.placeTwins}")
        }
        ms

      case Drain =>
        val (ids, pages, ms) = tr.span("api.drain") {
          val t0 = System.nanoTime()
          val ids = mutable.HashSet.empty[String]
          var token: Option[String] = None
          var pages = 0
          do {
            val node = Json.parse(http.query(DrainQuery, token).body)
            node.get("value").elements().asScala
              .foreach(n => ids += n.get("id").asText())
            pages += 1
            token = Option(node.get("continuationToken")).map(_.asText())
          } while (token.nonEmpty)
          (ids, pages, (System.nanoTime() - t0) / 1e6)
        }
        val want = expected.customerTwins
        val wantPages = (want + PageSize - 1) / PageSize
        require(ids.size == want && pages == wantPages,
          s"drain: ${ids.size} ids over $pages pages, want $want over $wantPages")
        ms

      case w: Write =>
        perKind(w.kind) += 1
        // traced serve_write issues every other write of a kind in-process
        val inProcess = tr.enabled && perKind(w.kind) % 2 == 0
        val (etag, ms) = if (inProcess) tr.span(s"store.write.${w.kind}")(
          Time.ms(writeInProcess(w)))
        else tr.span(s"api.write.${w.kind}")(Time.ms(writeHttp(w)))
        w.kind match {
          case "create_twin" | "patch_twin" => finalTwin(w.src) = etag.get
          case "put_rel" => finalRel((w.src, w.key)) = Some(etag.get)
          case "delete_rel" => finalRel((w.src, w.key)) = None
        }
        expected.onWrite(w)
        ms
    }

    private def twinDoc(w: Write): String = {
      val seg = OpGen.Segments(math.abs(w.src.hashCode) % OpGen.Segments.size)
      s"""{"$$dtId":"${w.src}","$$metadata":{"$$model":"${GraphViews.Customer}"},""" +
        s""""name":"${w.src}","acctbal":${acctbal(w)},"mktsegment":"$seg",""" +
        s""""tags":["$seg"]}"""
    }
    private def acctbal(w: Write): Double =
      (math.abs((w.src + perKind(w.kind)).hashCode) % 800000) / 100.0
    private def patchDoc(w: Write): String =
      s"""[{"op":"replace","path":"/acctbal","value":${acctbal(w)}}]"""
    private def relDoc(w: Write): String =
      s"""{"$$relationshipName":"located_in","$$targetId":"${w.target}"}"""

    private def writeHttp(w: Write): Option[String] = w.kind match {
      case "create_twin" => http.send("PUT", s"/digitaltwins/${w.src}", twinDoc(w)).etag
      case "patch_twin" => http.send("PATCH", s"/digitaltwins/${w.src}", patchDoc(w)).etag
      case "put_rel" => http.send("PUT",
        s"/digitaltwins/${w.src}/relationships/${w.key}", relDoc(w)).etag
      case "delete_rel" =>
        http.send("DELETE", s"/digitaltwins/${w.src}/relationships/${w.key}")
        None
    }

    private def etagOf(doc: com.fasterxml.jackson.databind.JsonNode) =
      Option(doc.get("$etag")).map(_.asText())

    private def writeInProcess(w: Write): Option[String] = w.kind match {
      case "create_twin" =>
        etagOf(store.createOrReplaceTwin(w.src, twinDoc(w), false, None))
      case "patch_twin" => etagOf(store.patchTwin(w.src, patchDoc(w), None, None))
      case "put_rel" =>
        etagOf(store.createOrReplaceRelationship(w.src, w.key, relDoc(w), false))
      case "delete_rel" => store.deleteRelationship(w.src, w.key); None
    }

    /** Traced runs: the in-process equivalent of a read right after its
      * HTTP call, and the validation and patch layers on a write's own
      * documents. */
    private def replay(o: Op): Unit = try o match {
      case GetTwin(id) => tr.span("store.get_twin")(store.getTwin(id))
      case Query(shape, param) =>
        val q = queryText(shape, param)
        val g = tr.span("store.graph")(store.graph)
        val qs = new QueryService(g)
        tr.span(s"adt.service.$shape")(qs.query(q, PageSize))
        val ast = tr.span(s"adt.parse.$shape")(QueryLanguage.parse(q))
        val df = tr.span(s"adt.plan.$shape")(new AdtPlanner(g).plan(ast))
        val sorted = df.orderBy(df.columns.map(col).toSeq: _*)
        tr.span(s"adt.catalyst.$shape")(sorted.queryExecution.executedPlan)
        tr.span(s"adt.execute.$shape")(sorted.limit(PageSize + 1).collect())
      case Drain =>
        val qs = new QueryService(store.graph)
        var page = tr.span("adt.pin")(qs.query(DrainQuery, PageSize))
        while (page.continuationToken.nonEmpty)
          page = tr.span("adt.page")(
            qs.query(DrainQuery, PageSize, page.continuationToken))
        qs.freeAllSnapshots()
      case w: Write if w.kind == "create_twin" =>
        val doc = Json.parse(twinDoc(w))
        tr.span("dtdl.validate")(store.models.validateTwin(doc))
      case w: Write if w.kind == "patch_twin" =>
        val doc = store.getTwin(w.src).deepCopy[com.fasterxml.jackson.databind.JsonNode]()
        tr.span("json.patch")(JsonPatch.apply(doc, JsonPatch.parseOps(patchDoc(w))))
      case _ =>
    } catch {
      case scala.util.control.NonFatal(e) =>
        out.check(false, s"in-process replay of ${o.cls} failed: ${e.getMessage}")
    }

    def report(wallSec: Double, work: SparkWork): Unit = {
      val done = lat.values.map(_.size).sum
      // point requests: one twin or relationship each; queries and drains
      // are reported on their own
      val point = Seq("get_twin", "list_rels", "write")
        .flatMap(c => lat.getOrElse(c, Nil))
      out.check(point.nonEmpty, "no point request completed")
      if (point.isEmpty) return
      out.e2e("ops_per_s") = (done / wallSec, "1/s")
      out.e2e("op_p50_ms") = (Stats.percentile(point, 50), "ms")
      out.detail("point_p90_ms") = (Stats.percentile(point, 90), "ms")
      out.detail("ops_per_s") = (done / wallSec, "1/s")
      def pcts(cls: String, name: String, ps: Seq[Int]): Unit =
        lat.get(cls).filter(_.nonEmpty).foreach { xs =>
          ps.foreach(p => out.detail(s"${name}_p${p}_ms") = (Stats.percentile(xs.toSeq, p), "ms"))
          out.detail(s"${name}_samples") = (xs.size.toDouble, "count")
        }
      pcts("get_twin", "get_twin", Seq(50, 90))
      pcts("query", "query", Seq(50, 90))
      if (write) pcts("write", "write", Seq(50, 90))
      pcts("drain", "drain", Seq(50))
      lat.get("query").filter(_.nonEmpty).foreach(xs =>
        out.e2e("heavy_p50_ms") = (Stats.median(xs.toSeq), "ms"))

      if (!tr.enabled) return
      ctx.counters.drain()
      Layers.spark(out, work)
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      def d(n: String) = tr.durationsMs(n)
      val inProcGet = d("store.get_twin")
      out.layer("store.get_twin_ms") = (med(inProcGet), "ms")
      out.layer("api.overhead_ms.get_twin") =
        (med(d("api.get_twin")) - med(inProcGet), "ms")
      val shapes = OpGen.Shapes
      out.layer("api.overhead_ms.query") = (
        med(shapes.flatMap(s => d(s"api.query.$s"))) -
          med(shapes.flatMap(s => d(s"adt.service.$s"))), "ms")
      shapes.foreach { s =>
        Seq("parse", "plan", "catalyst", "execute", "service").foreach { ph =>
          out.layer(s"adt.${ph}_ms.$s") = (med(d(s"adt.$ph.$s")), "ms")
        }
        val jobs = windows.collect { case (sh, a, b) if sh == s =>
          ctx.counters.jobsBetween(a, b).toDouble }
        out.layer(s"adt.spark_jobs.$s") = (med(jobs.toSeq), "count")
      }
      out.layer("adt.pin_ms") = (med(d("adt.pin")), "ms")
      out.layer("adt.page_ms") = (med(d("adt.page")), "ms")
      out.layer("store.graph_ms") = (med(d("store.graph")), "ms")
      out.layer("store.pending_rows") = (med(pendingAtQuery.toSeq), "count")
      if (write) {
        val kinds = OpGen.WriteKinds
        kinds.foreach(k =>
          out.layer(s"store.write_ms.$k") = (med(d(s"store.write.$k")), "ms"))
        out.layer("api.overhead_ms.write") = (
          med(kinds.flatMap(k => d(s"api.write.$k"))) -
            med(kinds.flatMap(k => d(s"store.write.$k"))), "ms")
        out.layer("store.checkpoint_ms") = (med(checkpointMs.toSeq), "ms")
        val bytes = journalBytes + dirBytes(journalDir)
        out.layer("store.journal_bytes_per_write") =
          (if (writes == 0) 0.0 else bytes.toDouble / writes, "B")
        out.layer("dtdl.validate_us") = (med(d("dtdl.validate")) * 1000, "us")
        out.layer("json.patch_us") = (med(d("json.patch")) * 1000, "us")
      }
      val snaps = Option(new java.io.File(storeDir).listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      out.layer("store.snapshot_bytes") =
        (snaps.map(f => dirBytes(f.getPath)).sum.toDouble, "B")
    }

    /** Reopen the store from disk: every acknowledged write must read back
      * with its final ETag and every deleted relationship must be gone. */
    def verifyReopen(): Unit = {
      val st = TableTwinStore.open(ctx.spark, storeDir, Place.Clock)
      finalTwin.foreach { case (id, etag) =>
        val got = scala.util.Try(etagOf(st.getTwin(id))).toOption.flatten
        out.check(got.contains(etag), s"reopened twin $id: etag $got, want $etag")
      }
      finalRel.foreach { case ((src, rid), want) =>
        val got = try etagOf(st.getRelationship(src, rid))
          catch { case StoreException(404, _) => None }
        out.check(got == want, s"reopened relationship $src/$rid: $got, want $want")
      }
      out.check(finalTwin.nonEmpty && finalRel.nonEmpty, "no write to verify")
    }
  }
}
