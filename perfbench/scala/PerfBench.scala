package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.Bridge

/** One benchmark run of one workload in this JVM.
  *
  * Set-up creates the graft session eleven times and keeps the last one.
  * Every run then starts with untimed jobs: the cold one (the JVM's
  * first) and `--warmup-jobs` more, whose times are recorded but are not
  * `job_s`, since the JIT is still compiling through them. Untraced
  * (`--trace 0`), timed jobs follow until `--seconds` have passed and at
  * least `--min-jobs` ran. Traced (`--trace 1`), one untraced timed job
  * runs, then listeners and spans are switched on and traced jobs run
  * until `--seconds` have passed (at least one); after them come the
  * kernel probes and the scan-size self-test. Each job writes under
  * `<out>/job-<n>`; the report at `--report` lists what was measured.
  * Output checks are the caller's.
  */
object PerfBench {
  /** `phase` is "cold", "warmup", "timed" or "traced". */
  final case class JobRec(index: Int, phase: String, ms: Double, dir: String, error: Option[String])

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = Workload(a("workload"))
    val (in, out) = (a("in"), a("out"))
    val cpus = a("cpus").toInt
    val seconds = a("seconds").toDouble
    val warmups = a("warmup-jobs").toInt
    val minJobs = a("min-jobs").toInt
    val traced = a("trace") == "1"

    val setupMs = ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (_ <- 0 until 11) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.builder(s"local[$cpus]", cpus)
        .config("spark.local.dir", a("tmp"))
        .config("spark.sql.warehouse.dir", s"${a("tmp")}/warehouse")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      setupMs += (System.nanoTime() - t0) / 1e6
    }

    val tracer = new Tracer(spark)
    val listener = new LayerListener
    val jobs = ArrayBuffer[JobRec]()
    val layers = ArrayBuffer[Map[String, Double]]()
    val inputBytes = du(new File(in))
    def runJob(phase: String): Unit = {
      val idx = jobs.size
      tracer.run = idx
      // settle outside the timed window: a full GC lets Spark's context
      // cleaner drop the previous job's shuffles and broadcasts
      System.gc()
      Thread.sleep(100)
      val cg0 = Layers.codegen
      val t0 = System.nanoTime()
      val err =
        try { tracer.span("job", Kind.Job)(workload.run(spark, in, s"$out/job-$idx", tracer)); None }
        catch { case e: Throwable => Some(e.toString) }
      jobs += JobRec(idx, phase, (System.nanoTime() - t0) / 1e6, s"$out/job-$idx", err)
      if (tracer.enabled && err.isEmpty) {
        Bridge.drain(spark.sparkContext)
        val cg1 = Layers.codegen
        layers += Layers.forRun(tracer, listener, idx, cpus,
          (cg1._1 - cg0._1, cg1._2 - cg0._2), inputBytes) + ("job" -> idx.toDouble)
      }
    }
    runJob("cold")
    for (_ <- 0 until warmups) runJob("warmup")
    if (traced) {
      runJob("timed")
      tracer.enabled = true
      spark.sparkContext.addSparkListener(listener)
    }
    val phase = if (traced) "traced" else "timed"
    val need = if (traced) 1 else minJobs
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var n = 0
    while (n < need || elapsed < seconds) { runJob(phase); n += 1 }

    val extra = new StringBuilder
    if (traced) {
      tracer.enabled = false
      val (texts, pairs) = workload.kernelInputs(spark, in)
      val kernels = Kernels.measure(texts, pairs, budgetMs = 300)
      extra ++= s""","kernels":${json(kernels)}"""
      // self-test: a full-column parquet scan must read the file's on-disk size
      val probe = a("selftest")
      val seen = listener.qes.size
      spark.read.parquet(probe).write.format("noop").mode("overwrite").save()
      Bridge.drain(spark.sparkContext)
      val read = listener.qes.drop(seen).map(_.fileBytes).sum
      extra ++= s""","selftest":{"file":${str(probe)},"scan_bytes":$read,"disk_bytes":${du(new File(probe))}}"""
      val origin = tracer.spans.headOption.fold(0L)(_.start)
      extra ++= ",\"spans\":[" + tracer.spans.map { s =>
        s"""{"id":${s.id},"name":${str(s.name)},"kind":${str(s.kind.toString)},"parent":${s.parent},""" +
          s""""run":${s.run},"start_ms":${(s.start - origin) / 1e6},"end_ms":${(s.end - origin) / 1e6},""" +
          s""""self_ms":${tracer.selfMs(s)}}"""
      }.mkString(",") + "]"
      extra ++= ",\"layers\":[" + layers.map(json).mkString(",") + "]"
    }

    // retained driver heap, after the timed windows
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(100) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    val report =
      s"""{"workload":${str(a("workload"))},"cpus":$cpus,"master":"local[$cpus]",""" +
        s""""spark_version":${str(spark.version)},"java_version":${str(System.getProperty("java.version"))},""" +
        s""""scala_version":${str(scala.util.Properties.versionNumberString)},""" +
        s""""setup_ms":[${setupMs.mkString(",")}],"input_bytes":$inputBytes,"retained_heap_mb":$heapMb,""" +
        s""""jobs":[${jobs.map(j => s"""{"index":${j.index},"phase":${str(j.phase)},"ms":${j.ms},""" +
          s""""dir":${str(j.dir)},"error":${j.error.fold("null")(str)}}""").mkString(",")}]""" +
        workload.oracle.map { case (q, sql) => s"${str(q)}:${str(sql)}" }.mkString(",\"oracle\":{", ",", "}") +
        extra.toString + "}"
    spark.stop()
    Files.write(Paths.get(a("report")), report.getBytes(StandardCharsets.UTF_8))
  }

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(du).sum) else f.length()

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def json(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${str(k)}:${if (v.isNaN || v.isInfinite) "null" else v.toString}"
    }.mkString("{", ",", "}")
}
