package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.arrow.{ArrowDataSource, GraftProcedures}
import graft.streaming.IncrementalView

/** One `orders` row of the driver-side model (`micros`: o_orderdate). */
final case class Ord(key: Long, cust: Long, status: String, price: Double,
    micros: Long, prio: String)

/** Writes beside reads on two logged Arrow copies of `orders`: one
  * copy-on-write, one with deletion vectors. Each round runs, on both
  * copies and in seeded order: an INSERT batch, an UPDATE and a DELETE
  * of a key set and a MERGE upsert; and twice each a point lookup, a
  * TPC-H Q4-style order-date range aggregate, VERSION AS OF and the
  * change feed over the round's writes. Then each copy's
  * IncrementalView is maintained.
  * A copy is compacted and vacuumed once the engine's auto-compaction
  * trigger holds on it, so reads see the small files and deletion
  * vectors that build up in between.
  *
  * Every table has a driver-side model: the rows the op stream says it
  * holds, and per committed epoch a fingerprint (row count and the sum
  * of each row's xxhash64). Reads, time travel and the final state are
  * checked against it; the view against a fresh group-by. */
final class TableDml(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val Cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
    "o_orderdate, o_orderpriority"
  private val Prios = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Statuses = Vector("F", "O", "P")

  private val src = spark.read.parquet(s"${ctx.data}/orders.parquet")
  private val tsType: DataType = src.schema("o_orderdate").dataType
  private val tsLit = if (tsType == TimestampNTZType) "TIMESTAMP_NTZ" else "TIMESTAMP"

  private def rowHash(o: Ord): Long = {
    def s(x: String) = Literal(UTF8String.fromString(x), StringType)
    XxHash64(Seq(Literal(o.key), Literal(o.cust), s(o.status), Literal(o.price),
      Literal(o.micros, tsType), s(o.prio)), 42L).eval().asInstanceOf[Long]
  }

  private val initial: Vector[Ord] = src
    .selectExpr("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "unix_micros(CAST(o_orderdate AS TIMESTAMP))", "o_orderpriority")
    .collect().iterator.map(r => Ord(r.getLong(0), r.getLong(1), r.getString(2),
      r.getDouble(3), r.getLong(4), r.getString(5))).toVector
  private val initialSum = initial.iterator.map(o => BigInt(rowHash(o))).sum
  private val firstNewKey = initial.map(_.key).max + 1

  /** Rows per INSERT and MERGE, keys per UPDATE and DELETE: the size of
    * a TPC-H refresh function, SF × 1500 orders, which is 0.1 % of
    * `orders` (RF1 inserts that many orders, RF2 deletes that many). */
  private val batch = math.max(2, initial.size / 1000)
  /** Files of the set-up layout, range-partitioned on the key: a point
    * lookup can prune all but one of them by zone maps. */
  private val SetupFiles = 8
  /** Compaction target: the set-up layout's rows per file, so that
    * compaction restores the layout the reads started from. */
  private val targetRows = math.max(2L, initial.size.toLong / SetupFiles)
  /** The engine's auto-compaction trigger (`AutoCompact`), with its
    * default `min_files`: a copy is due for compaction once at least
    * that many of its visible files hold fewer than `targetRows / 2`
    * rows. Unlike the engine's post-commit hook, files with a deletion
    * vector count too, since `CALL compact` folds those as well. */
  private val minFiles = GraftProcedures.SetAutoCompact.bind(new StructType())
    .parameters().find(_.name == "min_files").get.defaultValue().getSql.toInt

  /** One logged copy and its model. */
  final class Table(val mode: String) {
    val dir = s"${ctx.work}/dml/$mode"
    val root: Path = Paths.get(dir).toAbsolutePath.normalize
    val viewDir = s"${ctx.work}/dml/view_$mode"
    val ckpt = s"${ctx.work}/dml/ckpt_$mode"
    val rows = mutable.LinkedHashMap.empty[Long, Ord]
    var hashSum = BigInt(0)
    var nextKey = firstNewKey
    val history = mutable.LinkedHashMap.empty[Long, (Long, BigInt)]
    val ident = s"graft.arrow.`$dir`"
    /** Compacted since the current deck began. */
    var compacted = false

    def reset(): Unit = {
      rows.clear(); history.clear(); nextKey = firstNewKey
      initial.foreach(o => rows(o.key) = o)
      hashSum = initialSum
    }
    def put(o: Ord): Unit = { remove(o.key); rows(o.key) = o; hashSum += rowHash(o) }
    def remove(k: Long): Unit = rows.remove(k).foreach(o => hashSum -= rowHash(o))
    def fingerprint: (Long, BigInt) = (rows.size.toLong, hashSum)
    def latestEpoch(): Long = ctx.tracer.span("arrow.log.latest_epoch")(
      ArrowDataSource.latestCommittedEpoch(root))
    def record(): Unit = history(latestEpoch()) = fingerprint
    def randomKeys(n: Int): Seq[Long] = {
      val ks = rows.keysIterator.toVector
      Seq.fill(n)(ks(ctx.rng.nextInt(ks.size))).distinct
    }
    /** Visible files below half the compaction target, by footer rows. */
    def splinters: Int = ArrowDataSource.visibleIpcFiles(dir).count { f =>
      ArrowDataSource.footerInfo(f).rowStats.map(_.batches.map(_._1).sum)
        .exists(_ < targetRows / 2)
    }
  }

  private val cow = new Table("cow")
  private val dv = new Table("dv")
  private val both = Seq(cow, dv)
  private var freshBytesPerRow = 0.0
  private var writeBytes, writeRows, writeNs = 0L

  private def fingerprintOf(df: DataFrame): (Long, BigInt) = {
    val r = ctx.query(df.selectExpr("COUNT(*) AS n",
      s"CAST(SUM(CAST(xxhash64($Cols) AS DECIMAL(38,0))) AS STRING) AS h")).head
    (r.getLong(0), Option(r.getString(1)).map(BigInt(_)).getOrElse(BigInt(0)))
  }

  private def maintainView(t: Table): Unit = {
    val q = IncrementalView.maintain(spark, t.dir, t.viewDir, Seq("o_orderstatus"),
      Seq(("CAST(round(o_totalprice * 100) AS BIGINT)", "cents")), t.ckpt)
    try q.processAllAvailable() finally q.stop()
  }

  override def setup(): Seq[Double] = both.flatMap { t =>
    Seq(t.dir, t.viewDir, t.ckpt).foreach(Util.rmrf)
    t.reset()
    val t0 = System.nanoTime()
    src.repartitionByRange(SetupFiles, col("o_orderkey")).sortWithinPartitions("o_orderkey")
      .write.format("arrow").option("codec", "zstd").mode("overwrite").save(t.dir)
    ArrowDataSource.initTableLog(t.dir)
    val ns = System.nanoTime() - t0
    writeNs += ns
    writeBytes += Util.dataFileBytes(t.dir)
    writeRows += initial.size
    if (t.mode == "dv")
      spark.sql(s"CALL graft.system.set_dv(path => '${t.dir}')").collect()
    freshBytesPerRow = Util.dirBytes(t.dir).toDouble / initial.size
    t.record()
    Seq(Util.ms(ns))
  }

  /** One op of every kind on both copies, ending with maintenance, so
    * the timed rounds start from freshly compacted copies; the first
    * `ivm` builds each view. A table's view is always maintained right
    * before a vacuum of it: vacuum trims the change feed's horizon, and
    * a view that lagged behind it could not catch up. */
  override def warmup(): Seq[Double] = {
    val kinds = Core ++ Seq("compact", "ivm", "vacuum")
    both.foreach(t => kinds.foreach(k => opFor(k, t).body()))
    Nil
  }

  // ---- op stream ----------------------------------------------------------
  // A round: on each copy, every write kind once and every read kind
  // twice, so reads and writes come about half and half, in seeded
  // order; then each copy's view maintenance, preceded by compaction and
  // followed by vacuum when the trigger holds on that copy. A deck is
  // the rounds until every copy has been compacted once, so every deck
  // holds a whole maintenance cycle of both copies.
  private val Writes = Seq("insert", "update", "delete", "merge")
  private val Reads = Seq("point", "range_agg", "version_as_of", "change_feed")
  private val Core = Writes ++ Reads
  private val queue = mutable.ArrayDeque.empty[(String, Table)]
  /** (stored MB, space amplification) at the end of each timed round. */
  private val spaceSamples = mutable.ArrayBuffer.empty[(Double, Double)]
  private var rounds = 0

  override def deckDone: Boolean = queue.isEmpty && both.forall(_.compacted)
  override def next(): Op = {
    if (queue.isEmpty) {
      if (rounds > 0) spaceSamples += ctx.harness("space")(spaceNow())
      if (both.forall(_.compacted)) both.foreach(_.compacted = false)
      rounds += 1
      queue ++= ctx.rng.shuffle(for (k <- Writes ++ Reads ++ Reads; t <- both) yield (k, t))
      queue ++= both.map("maintain" -> _)
    }
    queue.removeHead() match {
      case ("maintain", t) =>
        // decided after the round's writes, outside any op's interval
        val n = ctx.harness("trigger")(t.splinters)
        if (n >= minFiles) {
          ctx.notes += s"round $rounds: ${t.mode} has $n small files, compacting"
          t.compacted = true
          queue.prependAll(Seq("ivm" -> t, "vacuum" -> t))
          opFor("compact", t)
        } else opFor("ivm", t)
      case (kind, t) => opFor(kind, t)
    }
  }

  private def spaceNow(): (Double, Double) = {
    val bytes = both.map(t => Util.dirBytes(t.dir)).sum.toDouble
    val fresh = both.map(_.rows.size).sum * freshBytesPerRow
    (bytes / 1048576.0, bytes / fresh)
  }

  private def randomOrd(key: Long): Ord = Ord(key, ctx.rng.nextInt(15000).toLong,
    Statuses(ctx.rng.nextInt(3)), BigDecimal(1000 + ctx.rng.nextInt(49900000) / 100.0)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble,
    (9131L + ctx.rng.nextInt(2405)) * 86400000000L, Prios(ctx.rng.nextInt(5)))

  /** `o` as a row of a SQL VALUES list. */
  private def valuesRow(o: Ord): String = {
    val day = java.time.LocalDate.ofEpochDay(o.micros / 86400000000L)
    s"(${o.key}L, ${o.cust}L, '${o.status}', ${o.price}D, $tsLit '$day 00:00:00', '${o.prio}')"
  }

  /** Data files and deletion-vector sidecars, with sizes. */
  private def files(t: Table): Map[String, Long] = {
    val s = Files.walk(t.root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isRegularFile(_))
        .filter(p => !p.toString.contains("_graft_metadata"))
        .map(p => p.toString -> Files.size(p)).toMap
    } finally s.close()
  }

  /** Per traced DML statement: (files it removed from the visible set,
    * bytes it added, rows it changed). */
  private val dmlStats = mutable.ArrayBuffer.empty[(Int, Long, Int)]

  /** A DML statement, with (traced) a before/after file diff. */
  private def dml(kind: String, t: Table, changedRows: Int, stmt: String): Unit = {
    val before = if (!ctx.tracer.on) null else ctx.harness("diff")(
      (files(t), ArrowDataSource.visibleIpcFiles(t.dir).map(_.toString).toSet))
    val t0 = System.nanoTime()
    ctx.tracer.span(s"arrow.dml.$kind")(spark.sql(stmt))
    val ns = System.nanoTime() - t0
    if (before != null) ctx.harness("diff") {
      val after = files(t)
      val visible = ArrowDataSource.visibleIpcFiles(t.dir).map(_.toString).toSet
      val added = after.filter { case (p, _) => !before._1.contains(p) }.values.sum
      dmlStats += (((before._2 -- visible).size, added, changedRows))
      if (kind == "append") { writeBytes += added; writeRows += changedRows; writeNs += ns }
    }
  }

  /** Model bookkeeping after a write, outside the op's latency. */
  private def model(t: Table)(update: => Unit): Unit =
    ctx.harness("model") { update; t.record() }

  private def check(cond: => Boolean, msg: => String): Unit =
    ctx.harness("check")(Util.check(cond, msg))

  private def newOrds(t: Table, n: Int): Seq[Ord] =
    Seq.fill(n) { val o = randomOrd(t.nextKey); t.nextKey += 1; o }

  private def opFor(kind: String, t: Table): Op = kind match {
    case "insert" => Op(s"insert.${t.mode}", write = true, dml = true) { () =>
      val os = newOrds(t, batch)
      dml("append", t, os.size, s"INSERT INTO ${t.ident} VALUES ${os.map(valuesRow).mkString(", ")}")
      model(t)(os.foreach(t.put))
    }
    case "update" => Op(s"update.${t.mode}", write = true, dml = true) { () =>
      val ks = t.randomKeys(batch)
      val prio = Prios(ctx.rng.nextInt(5))
      val price = BigDecimal(ctx.rng.nextInt(100000000) / 100.0)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      dml("update", t, ks.size, s"UPDATE ${t.ident} SET o_orderpriority = '$prio', " +
        s"o_totalprice = ${price}D WHERE o_orderkey IN (${ks.mkString(", ")})")
      model(t)(ks.foreach(k => t.put(t.rows(k).copy(prio = prio, price = price))))
    }
    case "delete" => Op(s"delete.${t.mode}", write = true, dml = true) { () =>
      val ks = t.randomKeys(batch)
      dml("delete", t, ks.size,
        s"DELETE FROM ${t.ident} WHERE o_orderkey IN (${ks.mkString(", ")})")
      model(t)(ks.foreach(t.remove))
    }
    case "merge" => Op(s"merge.${t.mode}", write = true, dml = true) { () =>
      // an upsert: half the batch matches existing keys, half is new
      val os = t.randomKeys(batch / 2).map(randomOrd) ++ newOrds(t, batch - batch / 2)
      dml("merge", t, os.size, s"MERGE INTO ${t.ident} t USING (SELECT * FROM VALUES " +
        s"${os.map(valuesRow).mkString(", ")} AS s($Cols)) s ON t.o_orderkey = s.o_orderkey " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      model(t)(os.foreach(t.put))
    }
    case "point" => Op(s"point.${t.mode}", write = false) { () =>
      val k = t.randomKeys(1).head
      val got = ctx.query(spark.sql(
        s"SELECT xxhash64($Cols) AS h FROM ${t.ident} WHERE o_orderkey = $k"), scanOp = true)
        .map(_.getLong(0)).toSeq
      check(got == t.rows.get(k).map(rowHash).toSeq, s"point $k on ${t.mode}: $got")
    }
    case "range_agg" => Op(s"range_agg.${t.mode}", write = false) { () =>
      // TPC-H Q4's predicate: three months of o_orderdate from the first
      // of a month between 1993-01 and 1997-10
      val lo = java.time.LocalDate.of(1993, 1, 1).plusMonths(ctx.rng.nextInt(58))
      val hi = lo.plusMonths(3)
      val r = ctx.query(spark.sql(s"SELECT COUNT(*) AS n, CAST(SUM(CAST(o_totalprice " +
        s"AS DECIMAL(18,2))) AS STRING) AS s FROM ${t.ident} " +
        s"WHERE o_orderdate >= $tsLit '$lo 00:00:00' AND o_orderdate < $tsLit '$hi 00:00:00'"),
        scanOp = true).head
      val (loUs, hiUs) = (lo.toEpochDay * 86400000000L, hi.toEpochDay * 86400000000L)
      check({
        val in = t.rows.valuesIterator.filter(o => o.micros >= loUs && o.micros < hiUs).toSeq
        val sum = in.map(o => BigDecimal(o.price).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum
        r.getLong(0) == in.size && (in.isEmpty || BigDecimal(r.getString(1)) == sum)
      }, s"range [$lo, $hi) on ${t.mode}: ${r.getLong(0)}/${r.getString(1)}")
    }
    case "version_as_of" => Op(s"version_as_of.${t.mode}", write = false) { () =>
      val e = ctx.harness("pick_epoch") {
        val h = ArrowDataSource.travelHorizon(t.root)
        val eligible = t.history.keys.filter(_ >= h).toVector
        eligible(ctx.rng.nextInt(eligible.size))
      }
      val got = fingerprintOf(spark.sql(s"SELECT * FROM ${t.ident} VERSION AS OF $e"))
      check(got == t.history(e), s"VERSION AS OF $e on ${t.mode}: $got vs ${t.history(e)}")
    }
    case "change_feed" => Op(s"change_feed.${t.mode}", write = false) { () =>
      // the feed over the last four recorded epochs: one round of
      // this copy's writes
      val (eligible, latest) = ctx.harness("pick_epoch") {
        val h = ArrowDataSource.travelHorizon(t.root)
        val latest = t.history.keys.max
        (t.history.keys.filter(e => e >= h && e < latest).toVector.takeRight(4), latest)
      }
      if (eligible.isEmpty) {
        val live = fingerprintOf(spark.read.format("arrow").load(t.dir))
        check(live == t.fingerprint, s"live rows of ${t.mode}: $live vs ${t.fingerprint}")
      } else {
        val from = eligible.head
        val r = ctx.query(spark.read.format("arrow").option("readChangeFeed", "true")
          .option("startingEpoch", from + 1).load(t.dir)
          .selectExpr("COALESCE(SUM(CASE WHEN _change_type IN ('insert', " +
            "'update_postimage') THEN 1 ELSE -1 END), 0) AS net")).head
        val want = t.history(latest)._1 - t.history(from)._1
        check(r.getLong(0) == want,
          s"change feed after epoch $from on ${t.mode}: net ${r.getLong(0)}, want $want")
      }
    }
    case "ivm" => Op(s"ivm.${t.mode}", write = true) { () =>
      ctx.tracer.span("streaming.ivm")(maintainView(t))
    }
    case "compact" => Op(s"compact.${t.mode}", write = true) { () =>
      ctx.tracer.span("arrow.log.maintenance")(spark.sql(
        s"CALL graft.system.compact(path => '${t.dir}', target_rows => $targetRows)").collect())
      model(t)(())
    }
    case "vacuum" => Op(s"vacuum.${t.mode}", write = true) { () =>
      // no grace period: a run is far shorter than the default hour,
      // which would leave vacuum nothing to reclaim
      ctx.tracer.span("arrow.log.maintenance")(spark.sql(
        s"CALL graft.system.vacuum(path => '${t.dir}', grace_ms => 0)").collect())
      model(t)(())
    }
  }

  override def finish(): Unit = both.foreach { t =>
    val live = fingerprintOf(spark.read.format("arrow").load(t.dir))
    Util.check(live == t.fingerprint,
      s"final live rows of ${t.mode}: $live, replay gives ${t.fingerprint}")
    maintainView(t)
    def canon(df: DataFrame) = Util.digest(df.selectExpr("o_orderstatus",
      "CAST(n AS BIGINT)", "CAST(cents AS BIGINT)").collect().toSeq)
    val view = canon(IncrementalView.read(spark, t.viewDir))
    val fresh = canon(spark.sql(s"SELECT o_orderstatus, COUNT(*) AS n, " +
      s"SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents FROM ${t.ident} " +
      "GROUP BY o_orderstatus"))
    Util.check(view == fresh, s"view of ${t.mode}: $view, fresh group-by $fresh")
  }

  override def stored(): (Double, Double) = {
    val s = spaceSamples.toSeq :+ spaceNow()
    (Util.median(s.map(_._1)), Util.median(s.map(_._2)))
  }

  override def layer(traced: Seq[OpRec]): Map[String, Double] = {
    def p50(prefix: String) = Util.median(traced.filter(_.kind.startsWith(prefix)).map(_.ms))
    val spans = ctx.tracer.all
    val kindOf = traced.map(r => r.id -> r.kind).toMap
    // the statement alone: its `arrow.dml.<kind>` span, per copy
    val perKind = for {
      k <- Seq("append", "update", "delete", "merge")
      m <- Seq("cow", "dv")
    } yield s"arrow.dml.$k.${m}_ms" -> Util.median(spans.filter(s =>
      s.name == s"arrow.dml.$k" && kindOf.get(s.op).exists(_.endsWith(s".$m")))
      .map(s => Util.ms(s.end - s.start)))
    val meta = both.map(t => Util.metaFiles(t.dir))
    def spanP50(name: String) =
      Util.median(spans.filter(_.name == name).map(s => Util.ms(s.end - s.start)))
    perKind.toMap ++ Map(
      "arrow.dml.files_rewritten_per_op" -> Util.mean(dmlStats.map(_._1.toDouble).toSeq),
      "arrow.dml.bytes_written_per_changed_byte" ->
        dmlStats.map(_._2).sum / math.max(dmlStats.map(_._3).sum * freshBytesPerRow, 1.0),
      "arrow.write.mb_per_s" -> writeBytes / 1048576.0 / (writeNs / 1e9),
      "arrow.write.bytes_per_row" -> writeBytes.toDouble / writeRows,
      "arrow.log.latest_epoch_ms" -> spanP50("arrow.log.latest_epoch"),
      "arrow.log.meta_files" -> meta.map(_._1).sum.toDouble,
      "arrow.log.meta_kb" -> meta.map(_._2).sum / 1024.0,
      "arrow.log.maintenance_ms" -> Util.median(traced.filter(r =>
        r.kind.startsWith("compact.") || r.kind.startsWith("vacuum.")).map(_.ms)),
      "streaming.ivm_maintain_ms" -> p50("ivm."))
  }
}
