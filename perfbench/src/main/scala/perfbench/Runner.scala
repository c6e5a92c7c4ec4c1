package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.sources.arrow.{ArrowDataSource, ArrowFilePartition}

/** One op of a workload's stream. `write` ops change a table (or, in a
  * read-only workload, never occur); `dml` marks the SQL statements
  * whose commit tail the trace measures. The body throws on a failed
  * correctness check. */
final case class Op(kind: String, write: Boolean, dml: Boolean = false)(
    val body: () => Unit)

trait Workload {
  /** One full set-up; returns the latency (ms) of each table write or
    * memo-building call it made. */
  def setup(): Seq[Double]
  /** Untimed: one op of every kind, so codegen and JIT are warm.
    * Returns the latency (ms) of calls that build memos, like `setup`. */
  def warmup(): Seq[Double]
  def next(): Op
  /** True between decks: the stream has handed out every op of the
    * current deck (each deck holds every op kind in fixed proportion),
    * so a run that stops here measured a whole number of decks. */
  def deckDone: Boolean
  /** End-of-run correctness checks; throws [[CheckFailed]]. */
  def finish(): Unit
  /** (stored_mb, space_amp) */
  def stored(): (Double, Double)
  /** Workload-specific per-layer metrics from the traced ops. */
  def layer(traced: Seq[OpRec]): Map[String, Double]
}

/** A finished op. `harnessNs` is the harness's own work inside it
  * (checks, model bookkeeping, traced diffs), left out of its latency. */
final case class OpRec(id: Int, kind: String, write: Boolean, dml: Boolean,
    start: Long, end: Long, harnessNs: Long, ok: Boolean, traced: Boolean,
    footerOpens: Long) {
  def ms: Double = Util.ms(end - start - harnessNs)
}

/** Arrow scan accounting for traced read queries: what was planned,
  * what it cost to plan, and what came back. */
final class ScanStats {
  var filesPlanned = 0L
  var filesLive = 0L
  var rowsInFiles = 0L
  var rowsOut = 0L
  var scanOpRows = 0L
  var scanOpBytes = 0L
  var scanOpExecNs = 0L
  var ownFooterOpens = 0L
}

final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val work: String, val data: String, seed: Long) {
  val rng = new scala.util.Random(seed)
  val scan = new ScanStats
  val notes = mutable.ArrayBuffer.empty[String]
  /** Traced ops: (file scans, in-memory cache scans) in the physical
    * plans of the queries they ran, for the memo guard. */
  val leaves = mutable.HashMap.empty[Int, (Int, Int)]

  /** Harness work inside an op: result checks, model bookkeeping and
    * the traced run's extra measurements (never nested). Its wall and
    * CPU time are summed here, so the runner can take them out of the
    * op's latency and of the phase's rate and CPU; traced, it is a
    * `bench.<what>` span, which the driver gap also leaves out. */
  var harnessNs, harnessCpuNs = 0L
  def harness[T](what: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val c0 = Util.threadCpuNs
    try tracer.span(s"bench.$what")(body)
    finally {
      harnessNs += System.nanoTime() - t0
      harnessCpuNs += Util.threadCpuNs - c0
    }
  }

  /** Traced: plan `build` in its own span and note its scan leaves. */
  def plan(build: => DataFrame): DataFrame = {
    val df = tracer.span("engine.plan") {
      val d = build
      Scans.qe(d).executedPlan
      d
    }
    harness("plan_leaves") {
      val (f, c) = Scans.leafKinds(Scans.qe(df).executedPlan)
      val (f0, c0) = leaves.getOrElse(tracer.op, (0, 0))
      leaves(tracer.op) = (f0 + f, c0 + c)
    }
    df
  }

  /** Run a read query and collect it. Traced, planning, Arrow split
    * planning and execution are separate spans. `scanOp` marks the
    * plain reads of a table's current version (point and range): their
    * planned files, rows and throughput are accounted. */
  def query(build: => DataFrame, scanOp: Boolean = false): Array[Row] =
    if (!tracer.on) build.collect()
    else {
      val df = plan(build)
      val planned = Scans.find(Scans.qe(df).executedPlan)
      // Spark already planned the splits while it planned the query;
      // plan them once more, alone, to time the Arrow side by itself
      // (extra work, so kept out of the op's latency)
      harness("replan") {
        val f1 = ArrowDataSource.footerOpens.get
        tracer.span("arrow.scan.plan")(planned.foreach(_.batch.planInputPartitions()))
        scan.ownFooterOpens += ArrowDataSource.footerOpens.get - f1
      }
      val t0 = System.nanoTime()
      val rows = tracer.span("engine.exec")(df.collect())
      val execNs = System.nanoTime() - t0
      if (scanOp) harness("scan_stats") {
        val f0 = ArrowDataSource.footerOpens.get
        val (bytes, inRows) = Scans.account(planned, scan)
        scan.rowsOut += Scans.find(Scans.qe(df).executedPlan)
          .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
        scan.scanOpRows += inRows
        scan.scanOpBytes += bytes
        scan.scanOpExecNs += execNs
        scan.ownFooterOpens += ArrowDataSource.footerOpens.get - f0
      }
      rows
    }
}

object Scans {
  def qe(df: DataFrame): org.apache.spark.sql.execution.QueryExecution =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution

  /** Every Arrow batch scan in a physical plan, through adaptive
    * wrappers, query stages and subqueries. */
  def find(p: SparkPlan): Seq[BatchScanExec] =
    p.collectWithSubqueries {
      case b: BatchScanExec if b.table.name().startsWith("arrow:") => Seq(b)
      case a: AdaptiveSparkPlanExec => find(a.executedPlan)
      case s: QueryStageExec => find(s.plan)
    }.flatten

  /** (file scans, in-memory cache scans) among the leaves of a
    * physical plan, through adaptive wrappers, query stages and
    * subqueries. A cached relation's own plan is not a child of its
    * scan, so a plan that reads only persisted results has no file
    * scan at all. */
  def leafKinds(p: SparkPlan): (Int, Int) = {
    def leaves(p: SparkPlan): Seq[SparkPlan] = p.collectWithSubqueries {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case s: QueryStageExec => leaves(s.plan)
      case l if l.children.isEmpty => Seq(l)
    }.flatten
    val ls = leaves(p)
    (ls.count {
      case _: FileSourceScanExec | _: BatchScanExec => true
      case _ => false
    }, ls.count(_.isInstanceOf[InMemoryTableScanExec]))
  }

  /** Add planned/live file counts and rows of the planned files to
    * `st`; returns the (bytes, rows) of the planned files. */
  def account(scans: Seq[BatchScanExec], st: ScanStats): (Long, Long) = {
    var bytes, rows = 0L
    scans.foreach { b =>
      val dir = b.table.name().stripPrefix("arrow:")
      val fs = b.inputPartitions.collect { case p: ArrowFilePartition => p.file }
        .distinct
      val live = ArrowDataSource.visibleIpcFiles(dir).size
      st.filesPlanned += fs.size
      st.filesLive += live
      fs.foreach { f =>
        val p = java.nio.file.Paths.get(f)
        val n = ArrowDataSource.footerInfo(p).rowStats
          .map(_.batches.map(_._1).sum).getOrElse(0L)
        rows += n
        bytes += java.nio.file.Files.size(p)
      }
    }
    st.rowsInFiles += rows
    (bytes, rows)
  }
}

final case class Result(correct: Boolean, attempted: Int, failed: Int,
    metrics: Map[String, Double], weather: String, notes: Seq[String])

object Runner {
  /** Set-ups per untraced run: at least `SetupReps`, and more until
    * those after the first took `SetupSeconds`; `setup_s` is their
    * median. The first is the one the timed ops use. The others run at
    * the end, on a warm JVM, after everything else is measured, so the
    * median is a warm set-up rather than a point on the JIT's warm-up
    * curve, and a cheap set-up gets enough samples to be steady. */
  val SetupReps = 5
  val SetupSeconds = 5.0

  def run(ctx: Ctx, wl: Workload, seconds: Double, trace: Boolean): Result = {
    val weather = new Weather
    val spark = ctx.spark
    val sc = spark.sparkContext
    var correct = true
    def guard(what: String)(body: => Unit): Unit =
      try body catch {
        case e: Exception =>
          correct = false
          ctx.notes += s"$what failed: ${e.toString.take(600)}"
      }

    val setupS = mutable.ArrayBuffer.empty[Double]
    val writeMs = mutable.ArrayBuffer.empty[Double]
    def setup(): Unit = {
      val t0 = System.nanoTime()
      writeMs ++= wl.setup()
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    def lap(what: String): Unit =
      ctx.notes += f"$what done at ${(System.nanoTime() - t0) / 1e9}%.1f s"
    guard("setup") {
      setup()
      lap("setup")
      writeMs ++= wl.warmup()
      lap("warm-up")
    }
    if (!correct) return Result(false, 1, 1, Map.empty, weather.json, ctx.notes.toSeq)

    val listener = new OpListener
    if (trace) sc.addSparkListener(listener)
    val recs = mutable.ArrayBuffer.empty[OpRec]
    var nextId = 0

    /** (wall s, process CPU ns) of the phase, less the harness's. */
    def phase(secs: Double, traced: Boolean): (Double, Long) = {
      ctx.tracer.on = traced
      val cpu0 = Util.processCpuNs
      val (h0, hc0) = (ctx.harnessNs, ctx.harnessCpuNs)
      val t0 = System.nanoTime()
      val deadline = t0 + (secs * 1e9).toLong
      while (System.nanoTime() < deadline || !wl.deckDone) {
        val op = wl.next()
        val id = nextId
        nextId += 1
        ctx.tracer.op = id
        if (traced) sc.setLocalProperty("perfbench.op", id.toString)
        val f0 = ArrowDataSource.footerOpens.get
        val own0 = ctx.scan.ownFooterOpens
        val opH0 = ctx.harnessNs
        val s = System.nanoTime()
        val ok = try {
          ctx.tracer.span(s"queries.${op.kind}")(op.body()); true
        } catch {
          case e: Exception =>
            ctx.notes += s"op ${op.kind} failed: ${e.toString.take(600)}"
            false
        }
        val e = System.nanoTime()
        val opens = ArrowDataSource.footerOpens.get - f0 -
          (ctx.scan.ownFooterOpens - own0)
        recs += OpRec(id, op.kind, op.write, op.dml, s, e, ctx.harnessNs - opH0,
          ok, traced, opens)
      }
      sc.setLocalProperty("perfbench.op", null)
      ctx.tracer.on = false
      ((System.nanoTime() - t0 - (ctx.harnessNs - h0)) / 1e9,
        Util.processCpuNs - cpu0 - (ctx.harnessCpuNs - hc0))
    }

    // traced: untraced, traced, traced, untraced phases of whole decks,
    // so JIT warm-up drift cancels out of the tracing overhead
    val order = if (trace) Seq(false, true, true, false) else Seq(false)
    val phases = order.map(t => t -> phase(seconds / order.size, traced = t))
    val uWall = phases.filter(!_._1).map(_._2._1).sum
    val uCpu = phases.filter(!_._1).map(_._2._2).sum
    val tWall = phases.filter(_._1).map(_._2._1).sum

    lap("timed ops")
    guard("final checks")(wl.finish())
    lap("final checks")
    val failed = recs.count(!_.ok)
    val untraced = recs.filter(!_.traced).toSeq
    val traced = recs.filter(_.traced).toSeq

    val metrics: Map[String, Double] =
      if (!trace) {
        val lat = untraced.map(_.ms)
        val reads = untraced.filter(!_.write).map(_.ms)
        val (storedMb, spaceAmp) = wl.stored()
        val heapMb = Util.heapLiveMb
        guard("setup") {
          val t1 = System.nanoTime()
          while (setupS.size < SetupReps || System.nanoTime() - t1 < SetupSeconds * 1e9)
            setup()
        }
        ctx.notes += setupS.map(x => f"$x%.2f").mkString("set-ups took ", ", ", " s")
        val writes = {
          val w = untraced.filter(_.write).map(_.ms)
          if (w.nonEmpty) w else writeMs.toSeq
        }
        Map(
          "setup_s" -> Util.median(setupS.toSeq),
          "ops_per_s" -> untraced.size / uWall,
          "op_p50_ms" -> Util.hdQuantile(lat, 0.5),
          "op_p90_ms" -> Util.hdQuantile(lat, 0.9),
          "cpu_ms_per_op" -> uCpu / 1e6 / math.max(untraced.size, 1),
          "read_p50_ms" -> Util.hdQuantile(reads, 0.5),
          "read_p90_ms" -> Util.hdQuantile(reads, 0.9),
          "write_p50_ms" -> Util.hdQuantile(writes, 0.5),
          "write_p90_ms" -> Util.hdQuantile(writes, 0.9),
          "stored_mb" -> storedMb,
          "space_amp" -> spaceAmp,
          "heap_live_mb" -> heapMb)
      } else {
        org.apache.spark.perfbench.Bus.drain(sc)
        layerMetrics(ctx, wl, listener, traced,
          untraced.size / uWall, traced.size / tWall)
      }
    lap("metrics")
    val attempted = math.max(recs.size, 1)
    Result(correct && failed == 0, attempted, failed, metrics,
      weather.json, ctx.notes.toSeq)
  }

  private def layerMetrics(ctx: Ctx, wl: Workload, l: OpListener,
      traced: Seq[OpRec], untracedRate: Double, tracedRate: Double)
      : Map[String, Double] = {
    val tr = ctx.tracer
    val n = math.max(traced.size, 1).toDouble
    // wall <-> monotonic clock, for job intervals (epoch ms)
    val baseNs = System.nanoTime()
    val baseMs = System.currentTimeMillis()
    def toNs(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L
    val counts = traced.map(r => r -> l.get(r.id))
    counts.foreach { case (r, c) =>
      c.jobIntervals.foreach { case (s, e) =>
        tr.addWithin("engine.job", toNs(s), toNs(e), r.id)
      }
    }
    def perOp(f: l.OpCounts => Double): Double = counts.map(x => f(x._2)).sum / n
    def spanMs(name: String): Double = {
      val per = tr.all.filter(_.name == name).groupBy(_.op)
        .values.map(ss => Util.ms(ss.map(s => s.end - s.start).sum)).toSeq
      Util.mean(per)
    }
    val spansByOp = tr.all.groupBy(_.op)
    def opSpans(r: OpRec, prefix: String) =
      spansByOp.getOrElse(r.id, Nil).filter(_.name.startsWith(prefix))
    def jobsNs(c: l.OpCounts) = c.jobIntervals.map { case (s, e) => (toNs(s), toNs(e)) }
    // the op's wall time that neither a job nor the harness covers
    val gaps = counts.map { case (r, c) =>
      val covered = (jobsNs(c) ++ opSpans(r, "bench.").map(s => (s.start, s.end)))
        .map { case (s, e) => (math.max(s, r.start), math.min(e, r.end)) }
        .filter { case (s, e) => e > s }.toSeq
      Util.ms(r.end - r.start - Tracer.unionNs(covered))
    }
    // from the statement's last job end until the statement returns
    val commits = counts.filter(_._1.dml).flatMap { case (r, c) =>
      opSpans(r, "arrow.dml.").map { d =>
        val lastJob = jobsNs(c).map(_._2).filter(e => e >= d.start && e <= d.end)
          .maxOption.getOrElse(d.start)
        Util.ms(d.end - lastJob)
      }
    }
    // memo guard: a read whose plans scan no file, only cached
    // relations, is answered from memos
    val memoOnly = traced.filter { r =>
      !r.write && ctx.leaves.get(r.id).exists { case (files, caches) =>
        files == 0 && caches > 0 }
    }.groupBy(_.kind)
    memoOnly.keys.toSeq.sorted.foreach { k =>
      ctx.notes += s"memo guard: $k scans no file, only in-memory cached relations"
    }
    val st = ctx.scan
    val self = tr.selfNsByLayer
    val byKind = traced.groupBy(_.kind.takeWhile(_ != '.')).map { case (k, rs) =>
      s"queries.${k}_p50_ms" -> Util.median(rs.map(_.ms)) }
    val generic = Map(
      "engine.plan_ms" -> spanMs("engine.plan"),
      "engine.jobs_per_op" -> perOp(_.jobs),
      "engine.stages_per_op" -> perOp(_.stages),
      "engine.tasks_per_op" -> perOp(_.tasks.toDouble),
      "engine.exec_cpu_ms_per_op" -> perOp(_.cpuNs / 1e6),
      "engine.gc_ms_per_op" -> perOp(_.gcMs.toDouble),
      "engine.spill_mb_per_op" -> perOp(_.spillBytes / 1048576.0),
      "engine.shuffle_mb_per_op" -> perOp(_.shuffleBytes / 1048576.0),
      "engine.driver_gap_ms" -> Util.mean(gaps),
      "engine.memo_only_read_kinds" -> memoOnly.size.toDouble,
      "arrow.scan.plan_ms" -> spanMs("arrow.scan.plan"),
      "arrow.scan.footer_opens_per_op" -> traced.map(_.footerOpens).sum / n,
      "arrow.scan.files_read_frac" ->
        (if (st.filesLive > 0) st.filesPlanned.toDouble / st.filesLive else 0.0),
      "arrow.scan.useful_rows_frac" ->
        (if (st.rowsInFiles > 0) st.rowsOut.toDouble / st.rowsInFiles else 0.0),
      "arrow.scan.rows_per_s" ->
        (if (st.scanOpExecNs > 0) st.scanOpRows / (st.scanOpExecNs / 1e9) else 0.0),
      "arrow.scan.mb_per_s" ->
        (if (st.scanOpExecNs > 0) st.scanOpBytes / 1048576.0 / (st.scanOpExecNs / 1e9)
         else 0.0),
      "arrow.log.commit_ms" -> Util.median(commits),
      "trace.untraced_ops_per_s" -> untracedRate,
      "trace.traced_ops_per_s" -> tracedRate,
      "trace.overhead_frac" ->
        (if (untracedRate > 0) 1.0 - tracedRate / untracedRate else 0.0)) ++
      Tracer.Layers.map(la =>
        s"$la.self_ms_per_op" -> Util.ms(self.getOrElse(la, 0L)) / n)
    generic ++ byKind ++ wl.layer(traced)
  }
}
