package perfbench

import java.io.File
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}

import org.apache.spark.sql.{Row, SparkSession}

/** `stmt-federated`: a closed loop of two clients on the Trino
  * statement face (`POST /v1/statement` + `nextUri` paging). In every
  * pass each client drains all nine statements once, in its own
  * seeded order; the pass ends when both have finished. */
object StmtFederated {
  val statements: Seq[(String, String)] = graft.ScaleCurveStatement.statements ++ Seq(
    "q19" ->
      """SELECT r_name, COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sales
        |FROM mongodb.tpcds.orders, psql.tpcds.customer,
        |     psql.tpcds.nation, psql.tpcds.region
        |WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
        |  AND n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q84" ->
      """SELECT event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM mongodb.tpcds.events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q85" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM elastic.default.documents d JOIN psql.tpcds.customer c
        |  ON d.doc_id = c.c_custkey
        |WHERE c.c_acctbal > 5000 AND c.c_mktsegment = 'BUILDING'
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // about 337 pages of 1,000 rows at sf0.1
    "wide" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity <= 28")
  val names: Seq[String] = statements.map(_._1)
  val clients = 2

  /** Row count plus an order-independent 64-bit hash of the rows. */
  final case class Digest(rows: Long, hash: Long)

  def rowHash(row: String): Long =
    (MurmurHash3.stringHash(row, 0x5eed).toLong << 32) ^
      (MurmurHash3.stringHash(row, 0x1f0e).toLong & 0xffffffffL)

  /** The face's wire form of a value (GraftStatementServer's
    * rendering), so direct rows can be compared with drained ones. */
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => Main.json(s)
    case b: Boolean => b.toString
    case n @ (_: Long | _: Int | _: Short | _: Byte) => n.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "\"" + d.toString + "\"" else d.toString
    case f: Float =>
      if (f.isNaN || f.isInfinite) "\"" + f.toString + "\"" else f.toString
    case d: java.math.BigDecimal => "\"" + d.toPlainString + "\""
    case d: scala.math.BigDecimal => "\"" + d.bigDecimal.toPlainString + "\""
    case other => "\"" + other.toString + "\""
  }
  def renderRow(r: Row): String = (0 until r.length).map(i => render(r.get(i))).mkString("[", ",", "]")

  def digest(rows: Array[Row]): Digest =
    Digest(rows.length, rows.iterator.map(r => rowHash(renderRow(r))).sum)

  final case class Page(state: String, next: Option[String], error: Option[String],
      rows: Long, hash: Long, analysisMs: Long, planningMs: Long)

  private val factory = new JsonFactory()

  /** Parse one statement-protocol page. Failure is the top-level
    * `error` object or `stats.state == "FAILED"`, never a substring:
    * result values may themselves read "error". */
  def parse(body: String): Page = {
    val p = factory.createParser(body)
    var state = ""; var next: Option[String] = None; var error: Option[String] = None
    var rows = 0L; var hash = 0L; var analysis = -1L; var planning = -1L
    try {
      require(p.nextToken() == JsonToken.START_OBJECT, s"not a JSON object: ${body.take(200)}")
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val f = p.currentName()
        p.nextToken()
        f match {
          case "nextUri" => next = Some(p.getText)
          case "error" =>
            val start = p.currentTokenLocation().getCharOffset.toInt
            p.skipChildren()
            error = Some(body.substring(start, p.currentLocation().getCharOffset.toInt))
          case "data" =>
            while (p.nextToken() == JsonToken.START_ARRAY) {
              val start = p.currentTokenLocation().getCharOffset.toInt
              p.skipChildren()
              rows += 1
              hash += rowHash(body.substring(start, p.currentLocation().getCharOffset.toInt))
            }
          case "stats" =>
            while (p.nextToken() == JsonToken.FIELD_NAME) {
              val s = p.currentName()
              p.nextToken()
              s match {
                case "state" => state = p.getText
                case "analysisTimeMillis" => analysis = p.getLongValue
                case "planningTimeMillis" => planning = p.getLongValue
                case _ => p.skipChildren()
              }
            }
          case _ => p.skipChildren()
        }
      }
    } finally p.close()
    Page(state, next, error, rows, hash, analysis, planning)
  }

  def http(method: String, url: String, body: String = null): String = {
    val c = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    c.setRequestProperty("X-Trino-User", "perfbench")
    // one connection per request, like the reference loader's plain
    // `requests` calls; a kept-alive connection stalls ~45 ms per page
    // on the face's separate header and body writes
    c.setRequestProperty("Connection", "close")
    if (body != null) {
      c.setDoOutput(true)
      c.getOutputStream.write(body.getBytes(StandardCharsets.UTF_8))
    }
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val out = new String(in.readAllBytes(), StandardCharsets.UTF_8)
    if (code != 200) throw new IllegalStateException(s"HTTP $code on $method $url: ${out.take(300)}")
    out
  }
}

final class StmtFederated extends Workload {
  import StmtFederated._

  private var base: String = _
  private var expected: Map[String, Digest] = Map.empty

  override def tables: Seq[String] = Seq(
    "lineitem", "orders", "customer", "nation", "region", "events", "documents")

  override def setUp(spark: SparkSession, data: String, work: File): Unit = {
    spark.conf.set("spark.sql.graft.root", data)
    Seq("lineitem", "orders", "customer", "nation").foreach { t =>
      graft.Tables.table(spark, data, t).createOrReplaceTempView(t)
    }
    // seed both wire stores for this data directory
    Seq("mongodb.tpcds.orders", "mongodb.tpcds.events", "elastic.default.documents")
      .foreach(t => spark.table(t).schema)
    base = graft.sources.GraftStatementServer.start(spark)
  }

  override def prepare(ctx: Ctx): Unit = {
    expected = statements.map { case (q, sql) => q -> digest(ctx.spark.sql(sql).collect()) }.toMap
    // Warm-up, unrecorded: after one pass the next is still up to a
    // second slower than the ones that follow.
    (1 to 2).foreach(i => pass(ctx, -i))
  }

  /** POST and drain one statement, recording the face's samples.
    * Throws on a failed or wrong result. */
  private def drain(ctx: Ctx, op: Long, q: String, sql: String): Unit = {
    val t0 = System.nanoTime()
    var page = parse(ctx.trace.span(op, "face", "post")(http("POST", s"$base/v1/statement", sql)))
    ctx.sample("face.post", (System.nanoTime() - t0) / 1e9)
    var rows = 0L; var hash = 0L; var pages = 0
    var firstPage = -1.0
    while (page.error.isEmpty && page.state != "FAILED" && page.next.isDefined) {
      val tp = System.nanoTime()
      page = parse(ctx.trace.span(op, "face", "page")(http("GET", page.next.get)))
      val now = System.nanoTime()
      ctx.sample("face.page", (now - tp) / 1e9)
      if (firstPage < 0) firstPage = (now - t0) / 1e9
      pages += 1; rows += page.rows; hash += page.hash
    }
    page.error.foreach(e => throw new IllegalStateException(s"$q failed: ${e.take(300)}"))
    if (page.state != "FINISHED")
      throw new IllegalStateException(s"$q ended in state ${page.state}")
    val exp = expected(q)
    if (rows != exp.rows || hash != exp.hash)
      throw new IllegalStateException(s"$q result mismatch: $rows rows vs ${exp.rows} expected")
    ctx.sample("first_page", firstPage)
    ctx.sample("face.pages", pages)
    ctx.sample("face.analysis_ms", page.analysisMs)
    ctx.sample("face.planning_ms", page.planningMs)
  }

  override def pass(ctx: Ctx, idx: Int): Unit = {
    val threads = (0 until clients).map { c =>
      val order = new scala.util.Random(ctx.seed * 1000003L + idx * 31L + c).shuffle(statements)
      new Thread(() => order.foreach { case (q, sql) =>
        ctx.op(q, s"stmt.$q")(op => drain(ctx, op, q, sql))
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  override def summary: Seq[(String, String)] = Seq(
    "stmt_latency_s" -> "op", "first_page_s" -> "first_page") ++
    names.map(q => s"stmt.${q}_s" -> s"stmt.$q")

  override def layerMetrics(ctx: Ctx): Map[String, Double] = {
    val r = ctx.rec
    val passes = r.get("t.pass").size.toDouble
    Map(
      "face.post_s" -> Main.median(r.get("t.face.post")),
      "face.page_s" -> Main.median(r.get("t.face.page")),
      "face.pages" -> r.get("t.face.pages").sum / passes,
      "face.analysis_ms" -> Main.median(r.get("t.face.analysis_ms")),
      "face.planning_ms" -> Main.median(r.get("t.face.planning_ms"))) ++
      names.map(q => s"stmt.${q}_p50_s" -> Main.median(r.get(s"t.stmt.$q")))
  }

  override def probes(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    // face overhead: drained latency minus direct collect of the same text
    val overheads = statements.map { case (q, sql) =>
      val t0 = System.nanoTime()
      spark.sql(sql).collect()
      Main.median(ctx.rec.get(s"t.stmt.$q")) - (System.nanoTime() - t0) / 1e9
    }
    Map("face.overhead_s" -> Main.median(overheads)) ++ Wire.probes(ctx, "lineitem")
  }
}

/** Timed full scans of the two wire connectors and a CTAS into mongo. */
object Wire {
  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def scan(ctx: Ctx, table: String): (Double, Long) = {
    val rows = ctx.spark.table(table).count()
    val s = Main.median((1 to 3).map(_ => ctx.trace.span(0L, "wire", s"scan $table")(
      timed(ctx.spark.table(table).write.format("noop").mode("overwrite").save()))))
    (s, rows)
  }

  /** DROP + CTAS of a lineitem slice into the mongo store; returns the
    * CTAS seconds after checking the written row count. */
  def ctas(ctx: Ctx, source: String, slice: Int): Double = {
    val spark = ctx.spark
    val sql = s"SELECT l_orderkey, l_linenumber, l_quantity FROM $source WHERE l_orderkey % 50 = $slice"
    spark.sql("DROP TABLE IF EXISTS mongodb.tpcds.perfbench_export")
    val s = ctx.trace.span(0L, "wire", "mongo ctas")(
      timed(spark.sql(s"CREATE TABLE mongodb.tpcds.perfbench_export AS $sql")))
    val got = spark.table("mongodb.tpcds.perfbench_export").count()
    val want = spark.sql(sql).count()
    require(got == want, s"mongo export holds $got rows, expected $want")
    s
  }

  def probes(ctx: Ctx, source: String): Map[String, Double] = {
    val (ms, mr) = scan(ctx, "mongodb.tpcds.orders")
    val (es, er) = scan(ctx, "elastic.default.documents")
    val c = ctas(ctx, source, 0)
    Map("wire.mongo_scan_s" -> ms, "wire.mongo_rows_per_s" -> mr / ms,
      "wire.es_scan_s" -> es, "wire.es_rows_per_s" -> er / es,
      "wire.mongo_ctas_s" -> c)
  }
}
