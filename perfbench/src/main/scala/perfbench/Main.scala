package perfbench

import graft.core.Json

import org.apache.spark.sql.SparkSession

import java.io.{File, PrintWriter}

/** Runs one workload and writes `result.json` plus the correctness
  * evidence under `--dir`. `run.py` drives this main, checks the evidence
  * and prints the benchmark's result line.
  *
  *   --workload ingest|tail|http|corpus  --seed N  --seconds S
  *                 (a comma-separated list runs each in turn, as the
  *                 class-data-sharing training run does)
  *   --trace 0|1   (1 = an untraced pass, then a traced pass)
  *   --dir D       work directory (store roots, evidence, spans)
  *   --data D      generated corpus tables (corpus only)
  *   --smoke 0|1   tiny sizes, for exercising the harness end to end
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloads = opts("workload").split(",").toSeq
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val dir = new File(opts("dir"))
    val dataDir = new File(opts.getOrElse("data", dir.getPath))
    val smoke = opts.getOrElse("smoke", "0") == "1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(dir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val passes = if (trace) Seq(false, true) else Seq(false)
    val results = for (workload <- workloads; traced <- passes) yield {
      val passDir = new File(dir, s"$workload-${if (traced) "traced" else "untraced"}")
      passDir.mkdirs()
      val tracer = new Tracer(traced)
      val jobs = new JobStats
      if (traced) spark.sparkContext.addSparkListener(jobs)
      val ctx = new Ctx(spark, seed, seconds, tracer, jobs, passDir, dataDir, smoke)
      val origin = System.nanoTime()
      Harness.phase(s"$workload pass (traced = $traced) starts")
      workload match {
        case "ingest" => Ingest.run(ctx)
        case "tail" => Tail.run(ctx)
        case "http" => Http.run(ctx)
        case "corpus" => Corpus.run(ctx)
        case other => sys.error(s"unknown workload: $other")
      }
      if (traced) {
        org.apache.spark.ListenerDrain(spark.sparkContext)
        Layers.report(ctx)
        tracer.write(new File(passDir, "spans.jsonl").getPath, origin)
        spark.sparkContext.removeSparkListener(jobs)
      }
      Harness.phase(s"$workload pass (traced = $traced) done")
      passJson(traced, passDir, ctx)
    }
    val prov = Seq(
      "spark_version" -> Json.quote(spark.version),
      "java_version" -> Json.quote(System.getProperty("java.version")),
      "scala_version" -> Json.quote(scala.util.Properties.versionNumberString),
      "spark_master" -> Json.quote(spark.sparkContext.master))
    spark.stop()
    Harness.phase("session stopped")
    val out = new PrintWriter(new File(dir, "result.json"), "UTF-8")
    try out.println(s"""{"passes":[${results.mkString(",")}],"jvm":{${prov.map { case (k, v) => s""""$k":$v""" }.mkString(",")}}}""")
    finally out.close()
  }

  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  private def passJson(traced: Boolean, passDir: File, ctx: Ctx): String = {
    val ms = ctx.metrics.map { case (k, (v, u)) => s"${Json.quote(k)}:{\"value\":${num(v)},\"unit\":${Json.quote(u)}}" }
    val cs = ctx.counts.map { case (k, v) => s"${Json.quote(k)}:$v" }
    s"""{"traced":$traced,"dir":${Json.quote(passDir.getPath)},"attempted":${ctx.attempted},""" +
      s""""failed":${ctx.failed},"metrics":{${ms.mkString(",")}},"counts":{${cs.mkString(",")}}}"""
  }
}
