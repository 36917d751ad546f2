package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Cross-table atomic commit (GraftTxn): staging invisibility, the
  * one-journal commit point, crash-site recovery at every step, and
  * optimistic conflict detection. In-package so the crash simulations
  * can drive the marker/journal internals directly. */
class GraftTxnSpec extends graft.SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", LongType)))

  private def mkTables(tag: String): (String, String, String) = {
    val base = Files.createTempDirectory(s"graft_txn_$tag")
    val t1 = base.resolve("t1").toString
    val t2 = base.resolve("t2").toString
    Seq(t1, t2).foreach { d =>
      spark.range(0, 10).selectExpr("id", "id AS v")
        .write.format("graft.sources.ManifestSink")
        .option("path", d).mode("append").save() // gen 1 each
    }
    (base.resolve("_txns").toString, t1, t2)
  }

  private def stage(dir: String, id: String, lo: Long, hi: Long): Unit =
    spark.range(lo, hi).selectExpr("id", "id * 10 AS v")
      .write.format("graft.sources.ManifestSink")
      .option("path", dir).option(GraftTxn.StageOptionKey, id)
      .mode("append").save()

  private def ids(dir: String): Set[Long] =
    spark.read.format("graft.sources.ManifestSink").schema(schema)
      .option("path", dir).load().collect().map(_.getLong(0)).toSet

  test("txn: staged writes are invisible until commitAll; then all tables flip at once") {
    val (txns, t1, t2) = mkTables("happy")
    val id = GraftTxn.newId()
    stage(t1, id, 100, 110)
    // INVISIBILITY: t1 staged, nothing committed anywhere — reads,
    // generations, and a concurrent committer all see the old state.
    assert(ids(t1) == (0L until 10L).toSet, "staged write leaked")
    assert(ManifestSink.committedGeneration(t1) == 1L)
    stage(t2, id, 200, 210)
    assert(ids(t2) == (0L until 10L).toSet)
    val committed = GraftTxn.commitAll(txns, Seq(t1, t2), id)
    assert(committed.map(_._2).toSet == Set(2L), s"$committed")
    assert(ids(t1) == (0L until 10L).toSet ++ (100L until 110L))
    assert(ids(t2) == (0L until 10L).toSet ++ (200L until 210L))
    // All txn metadata gone: markers, staged pointers, journal.
    Seq(t1, t2).foreach { d =>
      assert(!Files.exists(Paths.get(d, ManifestSink.TxnMarkerName)))
      assert(!Files.exists(GraftTxn.stagedPointer(d, id)))
    }
    assert(!Files.exists(Paths.get(txns, s"txn-$id.json")))
  }

  test("txn: writer killed BEFORE the commit point leaves every table at the old generation") {
    val (txns, t1, t2) = mkTables("precrash")
    val id = GraftTxn.newId()
    stage(t1, id, 100, 110)
    stage(t2, id, 200, 210)
    // Simulate death AFTER the markers, BEFORE the journal (the last
    // pre-commit-point crash site): write the markers exactly as
    // commitAll would, naming a journal that was never created.
    val journal = Paths.get(txns, s"txn-$id.json")
    Seq(t1, t2).foreach { d =>
      val json = "{\"txn\":\"" + id + "\",\"staged\":\"" +
        ManifestSink.txnStagedPointerName(id) + "\",\"journal\":\"" +
        NdjsonCodec.escape(journal.toAbsolutePath.toString) + "\"}"
      Files.write(Paths.get(d, ManifestSink.TxnMarkerName),
        json.getBytes(StandardCharsets.UTF_8))
    }
    // Readers: old state on both tables (marker without journal is
    // "not committed").
    assert(ids(t1) == (0L until 10L).toSet)
    assert(ids(t2) == (0L until 10L).toSet)
    assert(ManifestSink.committedGeneration(t1) == 1L)
    // The next committer on each table ABORTS the leftovers at lock
    // acquire: marker and staged pointer gone, its own commit lands.
    spark.range(50, 52).selectExpr("id", "id AS v")
      .write.format("graft.sources.ManifestSink")
      .option("path", t1).mode("append").save()
    assert(!Files.exists(Paths.get(t1, ManifestSink.TxnMarkerName)))
    assert(!Files.exists(GraftTxn.stagedPointer(t1, id)))
    assert(ids(t1) == (0L until 10L).toSet ++ Set(50L, 51L),
      "the aborted txn's rows must NOT surface")
  }

  test("txn: writer killed AFTER the commit point — readers see the new state immediately, swaps complete lazily") {
    val (txns, t1, t2) = mkTables("postcrash")
    val id = GraftTxn.newId()
    stage(t1, id, 100, 110)
    stage(t2, id, 200, 210)
    // Simulate death right after the journal landed (the commit point)
    // with ZERO pointer swaps done: markers + journal, staged pointers
    // still in their txn names.
    val journal = Paths.get(txns, s"txn-$id.json")
    Seq(t1, t2).foreach { d =>
      val json = "{\"txn\":\"" + id + "\",\"staged\":\"" +
        ManifestSink.txnStagedPointerName(id) + "\",\"journal\":\"" +
        NdjsonCodec.escape(journal.toAbsolutePath.toString) + "\"}"
      Files.write(Paths.get(d, ManifestSink.TxnMarkerName),
        json.getBytes(StandardCharsets.UTF_8))
    }
    Files.createDirectories(journal.getParent)
    Files.write(journal, ("[\"" + NdjsonCodec.escape(t1) + "\",\"" +
      NdjsonCodec.escape(t2) + "\"]").getBytes(StandardCharsets.UTF_8))
    // VIRTUAL ROLL-FORWARD: both tables serve the staged state at once
    // — the txn is committed even though no pointer moved yet.
    assert(ids(t1) == (0L until 10L).toSet ++ (100L until 110L))
    assert(ids(t2) == (0L until 10L).toSet ++ (200L until 210L))
    assert(ManifestSink.committedGeneration(t1) == 2L)
    // A later commit on t1 PHYSICALLY completes the swap first, then
    // builds on it — the txn's rows survive the next generation.
    spark.range(60, 62).selectExpr("id", "id AS v")
      .write.format("graft.sources.ManifestSink")
      .option("path", t1).mode("append").save()
    assert(!Files.exists(Paths.get(t1, ManifestSink.TxnMarkerName)))
    assert(ids(t1) ==
      (0L until 10L).toSet ++ (100L until 110L) ++ Set(60L, 61L))
    assert(ManifestSink.committedGeneration(t1) == 3L)
    // t2 untouched since: still rolling forward virtually.
    assert(ids(t2) == (0L until 10L).toSet ++ (200L until 210L))
  }

  test("txn: commitAll over retainHistory tables leaves each generation copy readable by time travel") {
    val (txns, t1, t2) = mkTables("retain")
    def append(dir: String, lo: Long, hi: Long, txn: Option[String]): Unit = {
      val w = spark.range(lo, hi).selectExpr("id", "id * 10 AS v")
        .write.format("graft.sources.ManifestSink")
        .option("path", dir).option("retainHistory", "true")
      txn.fold(w)(w.option(GraftTxn.StageOptionKey, _)).mode("append").save()
    }
    val id = GraftTxn.newId()
    append(t1, 100, 110, Some(id))
    append(t2, 200, 210, Some(id))
    assert(GraftTxn.commitAll(txns, Seq(t1, t2), id).map(_._2).toSet == Set(2L))
    // Move both tables past generation 2, so reading it needs the copy.
    append(t1, 300, 302, None)
    append(t2, 300, 302, None)
    Seq(t1 -> 100L, t2 -> 200L).foreach { case (d, lo) =>
      assert(Files.exists(Paths.get(d, ManifestSink.generationManifestName(2))), d)
      val asOf = spark.read.format("graft.sources.ManifestSink").schema(schema)
        .option("path", d).option("versionAsOf", "2").load()
        .collect().map(_.getLong(0)).toSet
      assert(asOf == (0L until 10L).toSet ++ (lo until lo + 10), d)
      assert(ids(d) == (0L until 10L).toSet ++ (lo until lo + 10) ++ Set(300L, 301L))
    }
  }

  test("txn: a member table that advanced since staging fails the whole commit") {
    val (txns, t1, t2) = mkTables("conflict")
    val id = GraftTxn.newId()
    stage(t1, id, 100, 110)
    stage(t2, id, 200, 210)
    // An independent commit advances t2 between staging and commit.
    spark.range(70, 72).selectExpr("id", "id AS v")
      .write.format("graft.sources.ManifestSink")
      .option("path", t2).mode("append").save()
    val e = intercept[IllegalStateException] {
      GraftTxn.commitAll(txns, Seq(t1, t2), id)
    }
    assert(e.getMessage.contains("advanced since staging"), e.getMessage)
    // ALL-OR-NOTHING: neither table took the txn's rows; staged
    // pointers discarded on both (t1 included, though it never
    // conflicted itself).
    assert(ids(t1) == (0L until 10L).toSet)
    assert(ids(t2) == (0L until 10L).toSet ++ Set(70L, 71L))
    Seq(t1, t2).foreach(d =>
      assert(!Files.exists(GraftTxn.stagedPointer(d, id))))
    // Re-stage against the current generations → commits cleanly.
    val id2 = GraftTxn.newId()
    stage(t1, id2, 100, 110)
    stage(t2, id2, 200, 210)
    GraftTxn.commitAll(txns, Seq(t1, t2), id2)
    assert(ids(t1) == (0L until 10L).toSet ++ (100L until 110L))
    assert(ids(t2) ==
      (0L until 10L).toSet ++ (200L until 210L) ++ Set(70L, 71L))
  }

  test("txn: vacuum keeps a pending transaction's staged files — commitAll still lands") {
    val (txns, t1, t2) = mkTables("vacuum")
    val id = GraftTxn.newId()
    stage(t1, id, 100, 110)
    stage(t2, id, 200, 210)
    // The hostile sweep: olderThanMs=0 drops the age guard entirely, so
    // ONLY reachability protects the staged (not-yet-live) data files.
    // Before the fix this deleted them and commitAll published a
    // manifest over missing data — committed data loss.
    ManifestOps.vacuum(t1, olderThanMs = 0L)
    ManifestOps.vacuum(t2, olderThanMs = 0L)
    GraftTxn.commitAll(txns, Seq(t1, t2), id)
    assert(ids(t1) == (0L until 10L).toSet ++ (100L until 110L))
    assert(ids(t2) == (0L until 10L).toSet ++ (200L until 210L))
    // And vacuum AFTER an abort does collect: stage again, abort (stale
    // staged pointer resolves away at the next lock acquisition), then
    // the files became unreachable garbage.
    val id2 = GraftTxn.newId()
    stage(t1, id2, 300, 310)
    val stagedPointer = GraftTxn.stagedPointer(t1, id2)
    assert(Files.exists(stagedPointer))
    Files.delete(stagedPointer) // the txn dies; pointer discarded
    val (gone, _) = ManifestOps.vacuum(t1, olderThanMs = 0L)
    assert(gone >= 1, s"aborted txn's staged data files should collect, got $gone")
    assert(ids(t1) == (0L until 10L).toSet ++ (100L until 110L))
  }

  test("txn: CALL cat.system.commit_all drives the same protocol through SQL") {
    val wh = Files.createTempDirectory("graft_txn_call")
    val cat = "gtxn_" + (wh.toString.hashCode & 0x7fffffff)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
    spark.sql(s"CREATE TABLE $cat.users (id BIGINT, v BIGINT)")
    spark.sql(s"CREATE TABLE $cat.addresses (id BIGINT, v BIGINT)")
    val id = GraftTxn.newId()
    stage(wh.resolve("users").toString, id, 0, 5)
    stage(wh.resolve("addresses").toString, id, 0, 7)
    assert(spark.sql(s"SELECT count(*) FROM $cat.users").head.getLong(0) == 0)
    val row = spark.sql(
      s"CALL $cat.system.commit_all('$id', 'users,addresses')").head
    assert(row.getInt(0) == 2)
    assert(spark.sql(s"SELECT count(*) FROM $cat.users").head.getLong(0) == 5)
    assert(spark.sql(s"SELECT count(*) FROM $cat.addresses")
      .head.getLong(0) == 7)
    spark.sql(s"DROP TABLE $cat.users")
    spark.sql(s"DROP TABLE $cat.addresses")
  }
}
