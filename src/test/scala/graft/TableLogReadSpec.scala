package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.arrow.ArrowDataSource

/** The commit log's single read path ([[ArrowDataSource.readLog]])
  * refuses what it cannot read instead of answering short: an
  * unreadable tail manifest or a known header with the wrong field
  * count fails the read by name, and a writer-transaction id that
  * would corrupt its header line is refused before anything commits.
  * Log-only fixtures: no Spark session, no data files. */
class TableLogReadSpec extends AnyFunSuite {
  private def freshLog(): (String, Path) = {
    val dir = Files.createTempDirectory("tlog_read").toString
    ArrowDataSource.initTableLog(dir)
    (dir, Paths.get(dir).toAbsolutePath.normalize)
  }

  private def md(root: Path): Path =
    root.resolve(ArrowDataSource.MetadataDirName)

  test("an unreadable tail manifest fails the stamp reads instead of " +
      "under-reporting #txn and #copy") {
    val (dir, root) = freshLog()
    val epoch = ArrowDataSource.withPendingTxn(dir, "app", 3L) {
      ArrowDataSource.withPendingCopies(dir, Seq(("a2V5", 10L))) {
        ArrowDataSource.commitTableEpoch(dir, 0L,
          Seq(root.resolve("a.arrow").toString), Seq.empty)
      }
    }
    assert(ArrowDataSource.lastTxnVersion(root, "app").contains(3L))
    assert(ArrowDataSource.copiedFiles(root) == Seq((epoch, "a2V5", 10L)))
    // the stamped manifest becomes an entry no read can open
    val m = md(root).resolve(s"$epoch.manifest")
    Files.delete(m)
    Files.createDirectory(m)
    intercept[java.io.IOException](
      ArrowDataSource.lastTxnVersion(root, "app"))
    intercept[java.io.IOException](ArrowDataSource.copiedFiles(root))
  }

  test("a known header with the wrong field count is refused by name; " +
      "unknown header kinds are skipped") {
    val (_, root) = freshLog()
    val m = md(root).resolve("1.manifest")
    Files.write(m, java.util.List.of("#future\tx\ty\tz", "a.arrow"))
    assert(ArrowDataSource.committedHistory(root).map(_.rel) == Seq("a.arrow"))
    Files.write(m, java.util.List.of("#txn\tapp", "a.arrow"))
    val e = intercept[IllegalArgumentException](
      ArrowDataSource.lastTxnVersion(root, "app"))
    assert(e.getMessage.contains(m.toString) &&
      e.getMessage.contains("#txn\tapp"), e.getMessage)
    // snapshot headers carry the epoch first: `#ts<TAB>epoch` alone is
    // short by its millis
    Files.write(m, java.util.List.of("a.arrow"))
    val c = md(root).resolve("0.compact")
    Files.write(c, java.util.List.of("#ts\t0"))
    val ts = intercept[IllegalArgumentException](
      ArrowDataSource.epochTimestamps(root))
    assert(ts.getMessage.contains(c.toString), ts.getMessage)
  }

  test("withPendingTxn refuses an appId holding a tab or a line break") {
    val (dir, root) = freshLog()
    for (bad <- Seq("app\tx", "app\nb.arrow", "app\rx")) {
      var ran = false
      intercept[IllegalArgumentException](
        ArrowDataSource.withPendingTxn(dir, bad, 1L) {
          ran = true
          ArrowDataSource.commitTableEpoch(dir,
            ArrowDataSource.latestCommittedEpoch(root),
            Seq(root.resolve("a.arrow").toString), Seq.empty)
        })
      assert(!ran, s"body ran under appId ${bad.replace("\n", "\\n")}")
    }
    assert(ArrowDataSource.latestCommittedEpoch(root) == 0L)
    assert(ArrowDataSource.txnStamps(root).isEmpty)
  }
}
