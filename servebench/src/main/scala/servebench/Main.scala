package servebench

import java.io.File

/** Entry point: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --run-dir <dir> --data-dir <dir> --out-dir <dir> --result <file>`. Writes the result JSON
  * object to `--result` and diagnostics to stdout. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      runDir: File, dataDir: File, outDir: File, result: File)

  final case class Result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)], diag: Map[String, Any])

  val Workloads = Seq("serve", "cdc_ingest")

  /** Set-up layers, reported by every traced run. */
  def setupLayers(setups: Seq[Stack.Timings], warmupS: Double): Seq[(String, Double, String)] = Seq(
    ("IndexStorage.build_s", Probe.median(setups.map(_.build)), "s"),
    ("setup.session_s", Probe.median(setups.map(_.session)), "s"),
    ("setup.warmup_s", warmupS, "s"))

  /** The ingest layers do no work on the serving workloads: they are
    * reported as zero there, so every traced run prints every layer. */
  val ingestLayersAbsent: Seq[(String, Double, String)] = Seq(
    ("Engine.commit_hold_ms", 0.0, "ms"),
    ("StreamingIngest.trigger_ms", 0.0, "ms"),
    ("StreamingIngest.overhead_ms", 0.0, "ms"),
    ("IndexMaintenance.append_ms", 0.0, "ms"),
    ("IndexMaintenance.files_per_batch", 0.0, "count"),
    ("IndexMaintenance.fold_ms", 0.0, "ms"),
    ("IndexMaintenance.folds", 0.0, "count"),
    ("IndexMaintenance.segments_mean", 0.0, "count"),
    ("IndexMaintenance.write_amp", 0.0, "ratio"),
    ("IndexMaintenance.read_ms", 0.0, "ms"),
    ("spark.jobs_per_batch", 0.0, "count"),
    ("spark.tasks_per_batch", 0.0, "count"))

  private def json(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(s)
    case other => json(other.toString)
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      new File(kv("run-dir")), new File(kv("data-dir")), new File(kv("out-dir")), new File(kv("result")))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}; one of ${Workloads.mkString(", ")}")
    val entered = System.currentTimeMillis()
    val r0 = if (a.workload == "cdc_ingest") Ingest.run(a) else Serving.run(a)
    val r = r0.copy(diag = r0.diag ++ Map(
      "jvm_start_to_main_s" -> (entered - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0,
      "run_s" -> (System.currentTimeMillis() - entered) / 1000.0))
    println("[servebench] diag " + r.diag.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${json(k)}: ${json(v)}" }.mkString("{", ", ", "}"))
    val metrics = r.metrics.map { case (n, v, u) =>
      s"${json(n)}: {\"value\": ${json(v)}, \"unit\": ${json(u)}}" }.mkString("{", ", ", "}")
    val line = s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": $metrics}"""
    java.nio.file.Files.write(a.result.toPath, line.getBytes("UTF-8"))
    System.out.flush()
    // the HTTP shell's and Spark's pool threads must not keep the JVM up
    System.exit(0)
  }
}
