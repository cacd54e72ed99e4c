package graftbench

import java.io.File
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.catalog.TableCatalog
import graft.operators.{Dedup, TextAnalysis}
import graft.pipelines.Templates
import graftbench.Main.{Ctx, Workload}

/** The curation operators over a seeded corpus with planted duplicate
  * groups: shuffle- and kernel-heavy, with almost no sink work. Each
  * result is written as parquet, as a curation job would keep it. */
object CurationCorpus extends Workload {

  private var docs: DataFrame = _

  /** Direct operator calls, each named after the `SparkEntry.queries`
    * entry that makes the same call; that entry's DuckDB oracle checks
    * the output. */
  val Ops: Seq[(String, DataFrame => DataFrame)] = Seq(
    "t_quality" -> (d => TextAnalysis.qualityScore(d, "doc_id", "text")),
    "d_exact_dedup" -> (d => Dedup.exactDedup(d, "doc_id", "text")),
    "d_minhash_lsh" -> (d => Dedup.minhashLsh(d, "doc_id", "text")),
    "d_simhash_neardup" -> (d => Dedup.simhashNearDup(d, "doc_id", "text")),
    "d_ngram_jaccard" -> (d => Dedup.ngramJaccard(d, "doc_id", "text")),
    "t_tfidf_topk" -> (d => TextAnalysis.tfidfTopK(d, "doc_id", "text", topK = 3)))
  /** Run through `SparkEntry.queries` itself: minhash pairs, then
    * connected components. */
  val Entries: Seq[String] = Seq("d_dedup_clusters")

  def dir(c: Ctx, p: Int) = s"${c.work}/pass_$p"

  def setup(c: Ctx): Unit =
    docs = Trace.span(c.sc, "catalog", "register") { _ =>
      TableCatalog.load(c.spark, c.inputs, "documents")
    }

  def pass(c: Ctx, p: Int): Unit = {
    val d = dir(c, p)
    Ops.foreach { case (name, f) =>
      c.op("operators", name)(s => c.write(s, f(docs), s"$d/$name"))
    }
    Entries.foreach { name =>
      c.op("queries", name)(s => c.write(s, SparkEntry.queries(name)(c.spark, c.inputs), s"$d/$name"))
    }
    // the ingest batch: the even ids, merged into an empty corpus table
    c.op("pipelines", "corpus_update") { _ =>
      Templates.corpusUpdate(c.spark, docs.filter(col("doc_id") % 2 === 0),
        Templates.CorpusUpdateConfig(s"$d/corpus"))
    }
  }

  def outputBytes(c: Ctx, p: Int): Long = Main.dirBytes(new File(dir(c, p)))

  def afterPass(c: Ctx, p: Int): Unit =
    if (p > 0) Main.deleteTree(new File(dir(c, p - 1)))

  /** The documents scan, and each kernel as a projection-only call over
    * the tokenized corpus, replicated so that the projection, not the
    * job launch, dominates. */
  def probes(c: Ctx): Unit = {
    import graft.functions.TextFunctions.{shingles, tokens}
    c.op("catalog", "scan:documents")(s => c.run(s, TableCatalog.load(c.spark, c.inputs, "documents")))
    graft.plans.GraftFunctions.register(c.spark)
    val toks = (1 to 10).map(_ => docs).reduce(_.union(_))
      .select(col("text"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .withColumn("sh", shingles(col("toks"), 3))
      .cache()
    val rows = toks.count()
    val merges = typedLit(Seq("t", "th", "e", "er", "a", "an", "i", "in"))
    val mergesR = typedLit(Seq("h", "e", "r", "s", "n", "d", "n", "g"))
    Seq(
      "minhash" -> call_function("graft_minhash_signature", col("sh"), lit(16)),
      "simhash" -> call_function("graft_simhash", col("toks"), lit(48)),
      "shingle" -> call_function("graft_shingle_hash_set", col("toks"), lit(3)),
      "winnow" -> call_function("graft_winnow_fps", col("toks"), lit(3), lit(4)),
      "md5_prefix" -> call_function("graft_md5_prefix_long", col("text"), lit(15)),
      "bpe" -> call_function("graft_bpe_token_sum", col("toks"), merges, mergesR)
    ).foreach { case (k, e) =>
      c.op("plans", k) { s =>
        val t0 = System.nanoTime()
        c.run(s, toks.select(e.as("out")))
        c.facts(s"plans.${k}_ns_row") = (System.nanoTime() - t0).toDouble / rows
      }
    }
    toks.unpersist()
  }

  override def check(c: Ctx, lastPass: Int): Unit = {
    val oracle = SparkEntry.oracleSql
    val json = (Ops.map(_._1) ++ Entries).map(n => Main.q(n) + ":" + Main.q(oracle(n)))
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(c.work, "oracle.json"), json)
  }
}
