package graftbench

import java.io.File
import scala.jdk.CollectionConverters._
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.types._
import graft.catalog.TableCatalog
import graft.formats.RowFormats
import graft.generate.DummyGen
import graft.mutate.{TablePrepare, UpsertWriter}
import graft.pipelines.Templates
import graft.sinks.{DynamicFileSink, TFRecordSink}
import graft.sources.AvroIO
import graft.sql.SqlRunner
import graftbench.Main.{Ctx, Workload}

/** One pass runs each reference template equivalent in
  * `graft.pipelines.Templates` once over seeded star tables: the write
  * side, where converters, sinks and mutation writers do the work. */
object EtlTemplates extends Workload {

  val OrdersByMonth =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority,
      |  substr(CAST(o_orderdate AS STRING), 1, 7) AS ym
      |FROM orders""".stripMargin
  val LineitemCsv =
    "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag FROM lineitem"
  val CsvHeader = "l_orderkey,l_linenumber,l_quantity,l_extendedprice,l_returnflag"
  val CustomerNation =
    """SELECT c_custkey, c_name, c_acctbal, c_mktsegment, n_name
      |FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin
  val OrdersTf = "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders"
  val OrdersByPriority =
    """SELECT o_orderpriority, count(*) AS n_orders, sum(o_orderkey) AS key_sum
      |FROM orders GROUP BY o_orderpriority""".stripMargin
  val OrdersDocs =
    """SELECT o_orderkey, o_custkey, o_orderpriority,
      |  CASE WHEN o_orderkey % 40 = 0 THEN repeat(o_orderpriority, 200)
      |       ELSE o_orderstatus END AS note
      |FROM orders""".stripMargin
  val DummyRows = 50000L
  val DummyYaml =
    s"""tables:
       |  - table: gen_items
       |    count: $DummyRows
       |    randomRate: 10
       |    primaryKeys: [item_id]
       |    fields:
       |      qty: [1, 100]
       |      price: [0.5, 99.5]
       |      color: [red, green, blue]
       |""".stripMargin
  val DummySchema = StructType(Seq(
    StructField("item_id", LongType, nullable = false),
    StructField("qty", LongType), StructField("price", DoubleType),
    StructField("color", StringType), StructField("tag", StringType)))

  def dir(c: Ctx, p: Int) = s"${c.work}/pass_$p"
  private var lastPass = 0

  def setup(c: Ctx): Unit =
    Trace.span(c.sc, "catalog", "register") { _ =>
      TableCatalog.register(c.spark, c.inputs)
      Seq("cust_batch", "cust_deletes").foreach { t =>
        TableCatalog.load(c.spark, c.inputs, t).createOrReplaceTempView(t)
      }
    }

  def pass(c: Ctx, p: Int): Unit = {
    val d = dir(c, p)
    val s = c.spark
    c.op("pipelines", "query_to_text_json") { _ =>
      Templates.queryToText(s, Templates.QueryToTextConfig(OrdersByMonth, s"$d/text/orders_",
        format = "json", splitField = Some("ym"), withoutSharding = true,
        outputNotify = Some(s"$d/notify/text_json.txt")))
    }
    c.op("pipelines", "query_to_text_csv") { _ =>
      Templates.queryToText(s, Templates.QueryToTextConfig(LineitemCsv, s"$d/text/lineitem",
        format = "csv", header = Some(CsvHeader), withoutSharding = true))
    }
    c.op("pipelines", "query_to_avro") { _ =>
      Templates.queryToAvro(s, Templates.QueryToAvroConfig(CustomerNation, s"$d/avro/cust_",
        splitField = Some("c_mktsegment"), outputNotify = Some(s"$d/notify/avro.txt")))
    }
    c.op("pipelines", "query_to_tfrecord") { _ =>
      Templates.queryToTFRecord(s, Templates.QueryToTFRecordConfig(OrdersTf, s"$d/tfr/ord_",
        splitField = Some("o_orderpriority"), outputNotify = Some(s"$d/notify/tfr.txt")))
    }
    c.op("pipelines", "query_to_table") { _ =>
      c.facts(s"table_rows_$p") = Templates.queryToTable(s,
        Templates.QueryToTableConfig(OrdersByPriority, s"orders_by_priority_p$p")).toDouble
    }
    c.op("pipelines", "query_to_upsert_seed") { _ =>
      c.facts(s"seed_written_$p") = Templates.queryToUpsert(s, Templates.QueryToUpsertConfig(
        "SELECT * FROM customer", s"$d/tables/customer", Seq("c_custkey"))).written.toDouble
    }
    c.op("pipelines", "query_to_upsert") { _ =>
      c.facts(s"upsert_written_$p") = Templates.queryToUpsert(s, Templates.QueryToUpsertConfig(
        "SELECT * FROM cust_batch", s"$d/tables/customer", Seq("c_custkey"),
        outputError = Some(s"$d/errors"), outputNotify = Some(s"$d/notify/failed.txt")))
        .written.toDouble
    }
    c.op("pipelines", "query_to_delete") { _ =>
      c.facts(s"delete_written_$p") = Templates.queryToDelete(s, Templates.QueryToDeleteConfig(
        "SELECT c_custkey FROM cust_deletes", s"$d/tables/customer", Seq("c_custkey")))
        .written.toDouble
    }
    c.op("pipelines", "query_to_documents") { _ =>
      Templates.queryToDocuments(s, Templates.QueryToDocumentsConfig(OrdersDocs, s"$d/docs",
        kind = "Order", keyField = "o_orderkey", excludeFromIndexFields = Seq("o_custkey")))
    }
    c.op("pipelines", "avro_to_upsert") { _ =>
      c.facts(s"avro_written_$p") = Templates.avroToUpsert(s, Templates.AvroToUpsertConfig(
        s"$d/avro", s"$d/tables/cust_from_avro", Seq("c_custkey"))).written.toDouble
    }
    c.op("pipelines", "dummy_to_upsert") { _ =>
      c.facts(s"dummy_written_$p") = Templates.dummyToUpsert(s, Templates.DummyToUpsertConfig(
        DummyYaml, s"$d/dummy", Map("gen_items" -> DummySchema), parallelNum = c.slots,
        seed = c.seed))("gen_items").written.toDouble
    }
  }

  private def tableDir(c: Ctx, p: Int) = new File(s"${c.work}/warehouse/orders_by_priority_p$p")

  override def outputBytes(c: Ctx, p: Int): Long =
    Main.dirBytes(new File(dir(c, p))) + Main.dirBytes(tableDir(c, p))

  override def afterPass(c: Ctx, p: Int): Unit = {
    lastPass = p
    if (p > 0) {
      Main.deleteTree(new File(dir(c, p - 1)))
      c.spark.sql(s"DROP TABLE IF EXISTS orders_by_priority_p${p - 1}")
    }
  }

  def probes(c: Ctx): Unit = {
    val s = c.spark
    val probe = s"${c.work}/probe"
    TableCatalog.testTables.foreach { t =>
      c.op("catalog", s"scan:$t")(sp => c.run(sp, TableCatalog.load(s, c.inputs, t)))
    }
    val orders = TableCatalog.load(s, c.inputs, "orders")
    val nOrders = orders.count()
    c.op("sql", "splitter_params") { sp =>
      c.run(sp, SqlRunner.run(s,
        "SELECT o_orderkey FROM orders WHERE o_orderpriority = @p1 --SPLITTER-- " +
          "SELECT o_orderkey FROM orders WHERE o_orderpriority = @p2",
        Map("p1" -> "1-URGENT", "p2" -> "5-LOW")))
    }
    var formatNs = 0L
    Seq("json", "csv").foreach { fmt =>
      c.op("formats", s"line_$fmt") { sp =>
        val t0 = System.nanoTime()
        c.run(sp, orders.select(RowFormats.line(orders, fmt).as("value")))
        formatNs += System.nanoTime() - t0
      }
    }
    c.facts("formats.ns_row") = formatNs.toDouble / (2 * nOrders)
    c.op("sinks", "dynamic_file_json") { _ =>
      val r = DynamicFileSink.write(s.sql(OrdersByMonth), DynamicFileSink.Config(
        s"$probe/text/orders_", "json", Some("ym"), withoutSharding = true))
      c.facts("sinks.files") = c.facts.getOrElse("sinks.files", 0.0) + r.files.size
    }
    c.op("sinks", "tfrecord") { _ =>
      val files = TFRecordSink.write(s.sql(OrdersTf),
        TFRecordSink.Config(s"$probe/tfr/ord_", Some("o_orderpriority")))
      c.facts("sinks.files") = c.facts.getOrElse("sinks.files", 0.0) + files.size
    }
    c.facts("sinks.bytes_mb") = Main.dirBytes(new File(probe)) / 1048576.0
    c.op("sources", "avro_read") { sp =>
      val t0 = System.nanoTime()
      val n = c.run(sp, AvroIO.read(s, s"${dir(c, lastPass)}/avro"))
      c.facts("sources.rows_per_s") = n / ((System.nanoTime() - t0) / 1e9)
    }
    c.op("mutate", "table_prepare") { _ =>
      TablePrepare.prepare(s, "probe_prepared", s.table("cust_batch").schema, Seq("c_custkey"))
    }
    c.op("mutate", "upsert_merge") { _ =>
      val table = s"$probe/tables/customer"
      UpsertWriter.write(s.table("customer"), table, UpsertWriter.InsertOrUpdate, Seq("c_custkey"))
      // the data files the merge wrote: those the table did not hold before
      val before = dataFiles(new File(table))
      UpsertWriter.write(s.table("cust_batch"), table, UpsertWriter.InsertOrUpdate, Seq("c_custkey"))
      val written = (dataFiles(new File(table)) -- before.keys).values.sum
      c.facts("mutate.write_amp") = written.toDouble /
        new File(s"${c.inputs}/cust_batch.parquet").length
    }
    c.op("generate", "dummy_generate") { sp =>
      val conf = DummyGen.parseYaml(DummyYaml).head.copy(count = 4 * DummyRows)
      val t0 = System.nanoTime()
      val n = c.run(sp, DummyGen.generate(s, DummySchema, conf, c.slots, c.seed))
      c.facts("generate.rows_per_s") = n / ((System.nanoTime() - t0) / 1e9)
    }
  }

  /** Data files under `dir` (no checksum or marker files): relative path -> bytes. */
  private def dataFiles(dir: File): Map[String, Long] =
    Option(dir.listFiles).toSeq.flatten.filterNot(f => f.getName.startsWith(".") ||
      f.getName.startsWith("_")).flatMap { f =>
      if (f.isDirectory) dataFiles(f).map { case (k, v) => s"${f.getName}/$k" -> v }
      else Seq(f.getName -> f.length)
    }.toMap

  /** Reads the Avro files of the last pass back with avro-core's own
    * reader and records, per file, its rows and key sum. */
  override def check(c: Ctx, lastPass: Int): Unit = {
    val d = dir(c, lastPass)
    val out = new StringBuilder("{")
    def avroFiles(path: String) = Option(new File(path).listFiles).toSeq.flatten
      .filter(_.getName.endsWith(".avro")).sortBy(_.getName)
    val entries = (avroFiles(s"$d/avro") ++ avroFiles(s"$d/errors")).map { f =>
      val r = new DataFileReader[GenericRecord](f, new GenericDatumReader[GenericRecord]())
      var rows = 0L; var keySum = 0L; var nullKeys = 0L
      val segments = scala.collection.mutable.SortedSet[String]()
      r.iterator().asScala.foreach { rec =>
        rows += 1
        rec.get("c_custkey") match {
          case null => nullKeys += 1
          case k: java.lang.Long => keySum += k
          case k => keySum += k.toString.toLong
        }
        Option(rec.get("c_mktsegment")).foreach(v => segments += v.toString)
      }
      r.close()
      Main.q(f.getPath) +
        s""":{"rows":$rows,"key_sum":$keySum,"null_keys":$nullKeys,"segments":""" +
        segments.map(Main.q).mkString("[", ",", "]") + "}"
    }
    out ++= entries.mkString(",") ++= "}"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(c.work, "avro.json"), out.toString)
  }
}
