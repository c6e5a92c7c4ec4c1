package perfbench

import java.nio.file.{Files, Paths}

import graft.Engine
import graft.sources.arrow.GraftCatalog

/** Benchmark entry: one workload, one seed, one closed-loop client on a
  * `local[nproc]` session. Writes its result as one JSON object to
  * `--out`; `run.py` turns that into the benchmark's output line.
  *
  * usage: perfbench.Main --workload <llm_pipeline|table_dml>
  *   --seed <n> --seconds <s> --trace <0|1> --data <parquet dir>
  *   --work <scratch dir> --out <result.json>
  *   [--expect <digests.json>] [--record <digests.json>]
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = args("work")
    Files.createDirectories(Paths.get(work))
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = Engine.sessionBuilder(s"local[$nproc]", nproc)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, new Tracer, work, args("data"), seed)
    def since(): Double = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    ctx.notes += f"session ready ${since()}%.1f s after JVM start"
    val wl: Workload = workload match {
      case "llm_pipeline" => new LlmPipeline(ctx, args.get("expect"), args.get("record"))
      case "table_dml" => new TableDml(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    ctx.notes += f"workload ready ${since()}%.1f s after JVM start"
    val r = try Runner.run(ctx, wl, seconds, trace)
      finally {
        if (trace) ctx.tracer.writeJsonl(s"$work/spans.jsonl")
      }
    spark.stop()
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""
    val metrics = r.metrics.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}:$v" } // NaN/Infinity: run.py refuses them
      .mkString("{", ",", "}")
    val json = s"""{"correct":${r.correct},"attempted":${r.attempted},""" +
      s""""failed":${r.failed},"metrics":$metrics,"weather":${r.weather},""" +
      s""""notes":${r.notes.map(q).mkString("[", ",", "]")}}"""
    Files.writeString(Paths.get(args("out")), json + "\n")
  }
}
