package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** `ingest-dml`: one client writing beside reads, against a versioned
  * table in a warehouse catalog pinned to the run's scratch root.
  *
  * A pass: CTAS of the base slice of lineitem; `rounds` seeded rounds
  * of INSERT, MERGE upsert, DELETE, a current read and a `VERSION AS
  * OF 1` read; OPTIMIZE and VACUUM; then DROP and CTAS of an export
  * into the mongo wire store. Every read is checked against an
  * in-memory model of the same seeded batches, built from the raw
  * parquet, so a wrong commit fails the operation that reads it. */
object IngestDml {
  val catalog = "perfcat"
  val table = s"$catalog.tpcds.li"
  val rounds = 2
  /** The CTAS holds orders below `baseOrders`; INSERT batches and
    * MERGE-new keys come from `slot`-sized order ranges above it. */
  val baseOrders = 40000
  val slot = 5000
  val slots = (150000 - baseOrders) / slot
  val mergeUpdateOrders = 800
  val mergeNewOrders = 200
  val deleteOrders = 20

  /** Count, key sum and quantity sum of a table state. */
  final case class State(n: Long, keys: Long, qty: Double)
}

final class IngestDml extends Workload {
  import IngestDml._

  private var root: File = _
  /** Raw rows of lineitem by merge key: (orderkey, quantity). */
  private var raw: mutable.LongMap[(Long, Double)] = _
  private var byOrder: Map[Long, Seq[Long]] = _

  override def tables: Seq[String] = Seq("lineitem", "orders", "documents")

  override def setUp(spark: SparkSession, data: String, work: File): Unit = {
    root = new File(work, "warehouse-root")
    spark.conf.set("spark.sql.graft.root", data)
    spark.conf.set(s"spark.sql.catalog.$catalog", "graft.sources.GraftParquetCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalog.pinnedRoot", root.getAbsolutePath)
    source(spark, data).createOrReplaceTempView("li_src")
    spark.table("mongodb.tpcds.orders").schema // seed the mongo store
  }

  /** lineitem with a unique merge key `k`: the row's position in the
    * parquet file. (`l_orderkey * 8 + l_linenumber` is not unique in
    * this data: 456,861 distinct values over 600,000 rows.) */
  private def source(spark: SparkSession, data: String) =
    spark.read.parquet(s"$data/lineitem.parquet").selectExpr(
      "_metadata.row_index AS k", "l_orderkey", "l_partkey", "l_quantity")

  override def prepare(ctx: Ctx): Unit = {
    root.mkdirs()
    raw = mutable.LongMap[(Long, Double)]()
    source(ctx.spark, ctx.data).collect().foreach { r =>
      raw(r.getLong(0)) = (r.getLong(1), r.getDouble(3))
    }
    byOrder = raw.toSeq.groupBy(_._2._1).map { case (o, ks) => o -> ks.map(_._1) }
    // Warm-up, unrecorded: pass times keep falling over the first few
    // passes while the JIT compiles the commit and rewrite paths.
    (1 to 3).foreach(i => pass(ctx, -i))
  }

  private def state(m: mutable.LongMap[Double]): State =
    State(m.size, m.keysIterator.sum, m.valuesIterator.sum)

  private def read(ctx: Ctx, sql: String, want: State, what: String): Unit = {
    val r = ctx.spark.sql(sql).collect().head
    val got = State(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0.0 else r.getDouble(2))
    if (got.n != want.n || got.keys != want.keys || math.abs(got.qty - want.qty) > 1e-6)
      throw new IllegalStateException(s"$what read $got, expected $want")
  }

  private def inList(xs: Iterable[Long]): String = xs.toSeq.sorted.mkString("(", ",", ")")

  private def tableDir = new File(root, "li.parquet")

  /** Data file names of the current snapshot, from its manifest. */
  private def liveFiles(): Seq[String] = {
    val v = new String(java.nio.file.Files.readAllBytes(
      new File(tableDir, "_current").toPath), "UTF-8").trim
    val m = new File(new File(tableDir, "_manifests"), s"v$v.txt")
    java.nio.file.Files.readAllLines(m.toPath).toArray.toSeq.map(_.toString)
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.takeWhile(_ != '\t'))
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum else f.length()

  override def pass(ctx: Ctx, idx: Int): Unit = {
    val spark = ctx.spark
    // The seeded inputs and the model of the table are harness work:
    // ctx.check keeps them out of the pass time.
    val rng = new scala.util.Random(ctx.seed * 1000003L + idx)
    def pick(n: Int, from: Long, until: Long): Seq[Long] =
      Iterator.continually(from + rng.nextInt((until - from).toInt)).distinct.take(n).toSeq
    val picked = rng.shuffle((0 until slots).toList).take(rounds + 1)
    val (insertSlots, mergeSlot) = (picked.take(rounds), picked.last)
    def slotOrders(s: Int) = (baseOrders + s * slot).toLong until (baseOrders + (s + 1) * slot)
    val model = mutable.LongMap[Double]()
    val v1 = ctx.check {
      raw.foreach { case (k, (o, q)) => if (o < baseOrders) model(k) = q }
      state(model)
    }
    val readSql = s"SELECT COUNT(*), SUM(k), SUM(l_quantity) FROM $table"

    ctx.op("drop")(_ => spark.sql(s"DROP TABLE IF EXISTS $table"))
    ctx.op("ctas", "dml", "cat.ctas") { _ =>
      spark.sql(s"""CREATE TABLE $table TBLPROPERTIES('versioned'='true')
                   |AS SELECT * FROM li_src WHERE l_orderkey < $baseOrders""".stripMargin)
    }
    insertSlots.zipWithIndex.foreach { case (s, r) =>
      val orders = slotOrders(s)
      ctx.op("insert", "dml", "cat.insert") { _ =>
        spark.sql(s"INSERT INTO $table SELECT * FROM li_src " +
          s"WHERE l_orderkey >= ${orders.head} AND l_orderkey <= ${orders.last}")
      }
      ctx.check(orders.foreach(o => byOrder.getOrElse(o, Nil).foreach(k => model(k) = raw(k)._2)))

      val (upd, fresh) = ctx.check((pick(mergeUpdateOrders, 0L, baseOrders),
        pick(mergeNewOrders, slotOrders(mergeSlot).head, slotOrders(mergeSlot).last + 1)))
      spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW merge_src AS
                   |SELECT k, l_orderkey, l_partkey, l_quantity + ${r + 1} AS l_quantity
                   |FROM li_src WHERE l_orderkey IN ${inList(upd ++ fresh)}""".stripMargin)
      ctx.op("merge", "dml", "cat.merge") { _ =>
        spark.sql(s"""MERGE INTO $table t USING merge_src s ON t.k = s.k
                     |WHEN MATCHED THEN UPDATE SET *
                     |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
      ctx.check((upd ++ fresh).foreach(o =>
        byOrder.getOrElse(o, Nil).foreach(k => model(k) = raw(k)._2 + r + 1)))

      val del = ctx.check(pick(deleteOrders, 0L, baseOrders))
      val before = ctx.check(liveFiles().toSet)
      ctx.op("delete", "dml", "cat.delete") { _ =>
        spark.sql(s"DELETE FROM $table WHERE l_orderkey IN ${inList(del)}")
      }
      ctx.check(ctx.sample("cat.rewritten", (before -- liveFiles()).size))
      val now = ctx.check {
        del.foreach(o => byOrder.getOrElse(o, Nil).foreach(model.remove))
        state(model)
      }
      ctx.op("read", "read", "cat.read")(_ => read(ctx, readSql, now, "current"))
      ctx.op("read_asof", "read", "cat.read_asof")(_ =>
        read(ctx, s"$readSql VERSION AS OF 1", v1, "VERSION AS OF 1"))
    }
    ctx.check {
      val live = liveFiles()
      ctx.sample("cat.data_files", live.size)
      val data = new File(tableDir, "data")
      ctx.sample("cat.bytes_per_live_byte",
        dirBytes(data).toDouble / live.map(f => new File(data, f).length()).sum)
    }
    ctx.op("optimize", "dml", "cat.optimize")(_ => spark.sql(s"OPTIMIZE $table").collect())
    ctx.op("vacuum", "cat.vacuum")(_ => spark.sql(s"VACUUM $table RETAIN 1 VERSIONS").collect())
    ctx.check(read(ctx, readSql, state(model), "after maintenance"))

    val exportSlice = rng.nextInt(50)
    val exportSql = s"SELECT k, l_orderkey, l_quantity FROM $table WHERE l_orderkey % 50 = $exportSlice"
    ctx.op("drop")(_ => spark.sql("DROP TABLE IF EXISTS mongodb.tpcds.perfbench_export"))
    ctx.op("mongo_ctas", "dml", "wire.mongo_ctas") { _ =>
      spark.sql(s"CREATE TABLE mongodb.tpcds.perfbench_export AS $exportSql")
    }
    ctx.check {
      val want = model.count { case (k, _) => raw(k)._1 % 50 == exportSlice }
      val got = spark.table("mongodb.tpcds.perfbench_export").count()
      if (got != want) {
        ctx.rec.fail("mongo_ctas", new IllegalStateException(
          s"mongo export holds $got rows, expected $want"))
      }
    }
  }

  override def summary: Seq[(String, String)] = Seq(
    "dml_latency_s" -> "dml", "raw_read_latency_s" -> "read") ++
    Seq("ctas", "insert", "merge", "delete", "optimize", "vacuum", "read", "read_asof")
      .map(v => s"catalog.${v}_s" -> s"cat.$v") :+ ("wire.mongo_ctas_s" -> "wire.mongo_ctas")

  override def layerMetrics(ctx: Ctx): Map[String, Double] = {
    def med(k: String) = Main.median(ctx.rec.get(s"t.$k"))
    Map(
      "catalog.ctas_s" -> med("cat.ctas"), "catalog.insert_s" -> med("cat.insert"),
      "catalog.merge_s" -> med("cat.merge"), "catalog.delete_s" -> med("cat.delete"),
      "catalog.optimize_s" -> med("cat.optimize"), "catalog.vacuum_s" -> med("cat.vacuum"),
      "catalog.read_s" -> med("cat.read"), "catalog.read_asof_s" -> med("cat.read_asof"),
      "catalog.data_files" -> med("cat.data_files"),
      "catalog.bytes_per_live_byte" -> med("cat.bytes_per_live_byte"),
      "catalog.files_rewritten_per_delete" -> med("cat.rewritten"),
      "wire.mongo_ctas_s" -> med("wire.mongo_ctas"))
  }

  override def probes(ctx: Ctx): Map[String, Double] = {
    val (ms, mr) = Wire.scan(ctx, "mongodb.tpcds.orders")
    val (es, er) = Wire.scan(ctx, "elastic.default.documents")
    Map("wire.mongo_scan_s" -> ms, "wire.mongo_rows_per_s" -> mr / ms,
      "wire.es_scan_s" -> es, "wire.es_rows_per_s" -> er / es)
  }
}
