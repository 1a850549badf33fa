package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.SparkEntry
import graft.functions.{TextFunctions => TF}
import graft.motogp.{MotoGpPaths, MotoGpPipelines}
import graft.operators.{Dedup, Ops}
import graft.sources.{Ingest, Sinks}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One benchmark job: generated inputs under `in`, written output under
  * `out`. Spans mark the calls into graft; they cost nothing when the
  * tracer is off. */
trait Workload {
  def run(spark: SparkSession, in: String, out: String, t: Tracer): Unit

  /** Strings the kernel throughput probes run on: texts, and short pairs
    * for Jaro-Winkler. Read outside any timed window. */
  def kernelInputs(spark: SparkSession, in: String): (Array[String], Array[(String, String)])

  /** DuckDB SQL that must reproduce each written output, by output name. */
  def oracle: Map[String, String] = Map.empty

  protected def prefixPairs(texts: Array[String]): Array[(String, String)] = {
    val keys = texts.map(s => s.take(40).toLowerCase)
    keys.zip(keys.drop(1))
  }
}

object Workload {
  def apply(name: String): Workload = name match {
    case "motogp_star" => MotoGpStar
    case "doc_curation" => DocCuration
    case "iterative_ops" => IterativeOps
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** The paper's pipeline: all seven star-schema tables, each written as
  * parquet, in the order `MotoGpPipelines.tables` yields them. */
object MotoGpStar extends Workload {
  def run(spark: SparkSession, in: String, out: String, t: Tracer): Unit = {
    val tables = t.span("motogp.build", Kind.Build) {
      new MotoGpPipelines(spark, MotoGpPaths(base = in)).tables
    }
    tables.foreach { case (name, df) =>
      t.span(s"motogp.$name", Kind.Sink)(Sinks.writeParquet(df, s"$out/$name"))
    }
  }

  def kernelInputs(spark: SparkSession, in: String): (Array[String], Array[(String, String)]) = {
    val p = MotoGpPaths(base = in)
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(p.raceResultsPath))
    val texts = lines.toArray(Array.empty[String]).drop(1)
    val circuits = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(p.circuitsPath))
      .toArray(Array.empty[String]).drop(1).map(_.split(",")(0).toLowerCase)
    val races = spark.read.option("multiLine", true).json(p.racesPath)
      .select(lower(trim(col("Circuito")))).collect().map(_.getString(0))
    (texts, for (r <- races; c <- circuits) yield (r, c))
  }
}

/** The ingest -> dedup -> quality -> pack chain over a JSONL crawl. The
  * traced run persists and counts each step's output before the next
  * one, so each step's span carries its own work. */
object DocCuration extends Workload {
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("url", StringType),
    StructField("domain", StringType), StructField("lang", StringType),
    StructField("text", StringType)))
  private val Corrupt = "_corrupt_record"

  def run(spark: SparkSession, in: String, out: String, t: Tracer): Unit = {
    val held = ArrayBuffer[DataFrame]()
    def materialize(df: DataFrame): DataFrame =
      if (!t.enabled) df
      else { val p = df.persist(); p.count(); held += p; p }
    def step(name: String)(build: => DataFrame): DataFrame =
      t.span(s"op.$name")(materialize(t.span(s"$name.build", Kind.Build)(build)))

    val tagged = t.span("sources.ingest")(materialize(
      Ingest.readJsonlTagged(spark, s"$in/crawl", schema, Corrupt)))
    val good = tagged.filter(col(Corrupt).isNull)
    val lined = step("line_dedup")(Dedup.lineDedup(good, "text", "doc_id"))
    val pairs = step("minhash_lsh")(Dedup.minhashLsh(lined, "text", "doc_id",
      shingleSize = 5, numHashes = 128, bands = 32, threshold = 0.8))
    val deduped = step("dedup_by_pairs")(Dedup.dedupByPairs(lined, "doc_id", pairs))
    // lineDedup keeps only (doc_id, text, n_kept, n_dropped): rejoin the metadata
    val clean = step("quality_gate")(deduped.select("doc_id", "text")
      .join(good.select("doc_id", "url", "domain", "lang"), Seq("doc_id"))
      .withColumn("rep", TF.repetitionStats(col("text")))
      .filter(col("rep.distinct_ratio") >= 0.3 && col("rep.top_token_frac") <= 0.2)
      .withColumn("text", TF.redact(col("text"), Seq(TF.EmailPattern -> "<EMAIL>")))
      .withColumn("n_tok", col("rep.n_tokens"))
      .drop("rep"))
    val budgets = spark.read.schema("domain STRING, token_budget BIGINT")
      .option("header", true).csv(s"$in/budgets.csv")
    val shaped = step("token_budget")(
      Ops.sampleToTokenBudget(clean, Seq("domain"), "n_tok", budgets, Seq(col("doc_id"))))
    t.span("op.write_jsonl", Kind.Sink)(Sinks.writeJsonl(
      shaped.select("doc_id", "url", "domain", "lang", "n_tok", "text"), s"$out/corpus"))
    t.span("sinks.quarantine", Kind.Sink)(Sinks.writeJsonl(
      tagged.filter(col(Corrupt).isNotNull).select(Corrupt), s"$out/quarantine"))
    held.foreach(_.unpersist(blocking = true))
  }

  def kernelInputs(spark: SparkSession, in: String): (Array[String], Array[(String, String)]) = {
    val texts = spark.read.schema(schema).json(s"$in/crawl")
      .filter(col("text").isNotNull).select("text").limit(6000).collect().map(_.getString(0))
    (texts, prefixPairs(texts))
  }
}

/** The loop operators through the engine's query surface, each result
  * written as parquet. */
object IterativeOps extends Workload {
  val queries: Seq[(String, String)] = Seq(
    "pagerank" -> "q_pagerank", "kmeans" -> "q_kmeans",
    "classifier" -> "q_quality_classifier", "langid" -> "q_langid_model",
    "dup_clusters" -> "q_dup_clusters_dist", "semantic_dedup" -> "q_semantic_dedup",
    "bpe_train" -> "q_bpe_train_capped")

  override def oracle: Map[String, String] =
    SparkEntry.oracleSql.filter { case (q, _) => queries.exists(_._2 == q) }

  def run(spark: SparkSession, in: String, out: String, t: Tracer): Unit = {
    val all = SparkEntry.queries
    queries.foreach { case (op, q) =>
      t.span(s"op.$op") {
        val df = t.span(s"$op.build", Kind.Build)(all(q)(spark, in))
        t.span(s"$op.write", Kind.Sink)(Sinks.writeParquet(df, s"$out/$q"))
      }
    }
  }

  def kernelInputs(spark: SparkSession, in: String): (Array[String], Array[(String, String)]) = {
    val texts = spark.read.parquet(s"$in/documents.parquet")
      .filter(col("text").isNotNull).select("text").collect().map(_.getString(0))
    (texts, prefixPairs(texts))
  }
}
