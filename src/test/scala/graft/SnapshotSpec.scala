package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** TIME TRAVEL over the [[graft.sources.ManifestSink]] epoch log — the
  * gate the round-10 verdict demanded for the `snap` surface
  * (`GraftCatalog.loadTable(ident, version)` +
  * `ManifestSink.committedFilesAsOf`): every epoch manifest is an
  * atomic commit, so snapshot n = the union of epochs 0..n, and log
  * retention (compaction) bounds how far back a version is servable —
  * refused loudly past the horizon, never silently wrong. */
class SnapshotSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def epochName(id: Long): String = f"epoch-$id%020d"
  private def compactName(id: Long): String = f"compact-$id%020d"

  /** Hand-build a manifest log: each (kind, id) -> listed file names. */
  private def mkLog(dir: Path, entries: Seq[(String, Long, Seq[String])]): Unit = {
    Files.createDirectories(dir)
    entries.foreach { case (kind, id, names) =>
      val f = if (kind == "epoch") epochName(id) else compactName(id)
      Files.write(dir.resolve(f),
        names.mkString("\n").getBytes(StandardCharsets.UTF_8))
    }
  }

  private def asOfNames(dir: Path, v: Long): Seq[String] =
    graft.sources.ManifestSink.committedFilesAsOf(dir.toString, v)
      .map(p => Paths.get(p).getFileName.toString).sorted

  test("committedFilesAsOf: first-epoch>0 logs (a checkpointed query " +
    "restarted into a fresh dir) serve exact prefixes; the pre-sweep " +
    "crash window still serves below the horizon; a swept or " +
    "incomplete log refuses") {
    val base = Files.createTempDirectory("graft_asof_unit")
    // A: loose 5,6,7 — no compact. Prefixes are exact; a version before
    // the first commit is the empty snapshot.
    val a = base.resolve("a")
    mkLog(a, Seq(("epoch", 5L, Seq("f5")), ("epoch", 6L, Seq("f6a", "f6b")),
      ("epoch", 7L, Seq("f7"))))
    assert(asOfNames(a, 6) == Seq("f5", "f6a", "f6b"))
    assert(asOfNames(a, 7) == Seq("f5", "f6a", "f6b", "f7"))
    assert(asOfNames(a, 4).isEmpty, "before the first commit = empty snapshot")
    // B: crash window — compact-7 landed but the absorbed loose epochs
    // were not yet swept. The loose log unions to exactly the compact
    // content, which PROVES it complete (every task file is listed by
    // exactly one epoch), so a below-horizon prefix is exact even
    // though the first epoch is 5 (advisor r10: the old check
    // hard-required epoch 0).
    val b = base.resolve("b")
    mkLog(b, Seq(("epoch", 5L, Seq("f5")), ("epoch", 6L, Seq("f6a", "f6b")),
      ("epoch", 7L, Seq("f7")),
      ("compact", 7L, Seq("f5", "f6a", "f6b", "f7"))))
    assert(asOfNames(b, 6) == Seq("f5", "f6a", "f6b"))
    // C: post-sweep — the loose epochs are gone; below-horizon must
    // refuse with the retention boundary spelled out.
    val c = base.resolve("c")
    mkLog(c, Seq(("compact", 7L, Seq("f5", "f6a", "f6b", "f7"))))
    val eC = intercept[IllegalStateException](asOfNames(c, 6))
    assert(eC.getMessage.contains("predates the compaction horizon 7"), eC)
    assert(asOfNames(c, 7) == Seq("f5", "f6a", "f6b", "f7"),
      "the horizon itself is always servable from the compact file")
    // D: INCOMPLETE crash window — epoch 5 already swept (its f5 lives
    // only in the compact). Serving loose 6 as 'as of 6' would DROP f5;
    // the completeness proof fails and the version is refused.
    val d = base.resolve("d")
    mkLog(d, Seq(("epoch", 6L, Seq("f6a", "f6b")), ("epoch", 7L, Seq("f7")),
      ("compact", 7L, Seq("f5", "f6a", "f6b", "f7"))))
    intercept[IllegalStateException](asOfNames(d, 6))
    // beyond-newest and empty-log refusals
    val eA = intercept[IllegalArgumentException](asOfNames(a, 8))
    assert(eA.getMessage.contains("has no version 8"), eA)
    val empty = base.resolve("empty"); Files.createDirectories(empty)
    intercept[IllegalArgumentException](asOfNames(empty, 0))
    graft.util.Fs.deleteRecursively(base)
  }

  test("streaming sink across a COMPACTION boundary: AS-OF versions at " +
    "and above the horizon equal the exact epoch prefix of the input; " +
    "below-horizon and beyond-newest are refused; the SQL catalog face " +
    "(VERSION AS OF + per-table snap schemas) serves the same snapshots") {
    val root = Files.createTempDirectory("graft_snap_gate")
    val srcDir = root.resolve("src"); Files.createDirectories(srcDir)
    val snapDir = root.resolve("snap"); Files.createDirectories(snapDir)
    val out = snapDir.resolve("ev").toString
    // epoch i carries rows with event_id in {10i, 10i+1, 10i+2}
    def slice(i: Int): Seq[(Long, Long, String)] =
      (0 to 2).map(j => (i * 10L + j, i.toLong, s"t$i"))
    def land(i: Int): Unit =
      slice(i).toDF("event_id", "user_id", "event_type")
        .coalesce(1).write.mode("append").parquet(srcDir.toString)
    val schema = Seq.empty[(Long, Long, String)]
      .toDF("event_id", "user_id", "event_type").schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      .writeStream.format("graft.sources.ManifestSink")
      .option("path", out)
      .option("compactInterval", "2") // force TWO compactions in 5 epochs
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .outputMode("append").start()
    try (0 until 5).foreach { i => land(i); q.processAllAvailable() }
    finally q.stop()
    // compactions fired at epochs 1 and 3 → compact-3 is the horizon,
    // epoch-4 is the one loose survivor
    val names = {
      val s = Files.list(Paths.get(out))
      try s.iterator().asScala.map(_.getFileName.toString).toSet
      finally s.close()
    }
    assert(names.exists(_.startsWith("compact-")), s"no compaction ran: $names")
    assert(names.contains(compactName(3)), s"horizon not at epoch 3: $names")
    assert(!names.contains(epochName(0)) && !names.contains(epochName(3)),
      s"absorbed loose epochs not swept: $names")
    def asOfIds(v: Long): Set[Long] = {
      val files = graft.sources.ManifestSink.committedFilesAsOf(out, v)
      spark.read.schema("event_id LONG, user_id LONG, event_type STRING")
        .parquet(files: _*).collect().map(_.getLong(0)).toSet
    }
    def prefixIds(v: Int): Set[Long] =
      (0 to v).flatMap(slice(_).map(_._1)).toSet
    assert(asOfIds(3) == prefixIds(3), "as-of at the horizon diverged")
    assert(asOfIds(4) == prefixIds(4), "as-of above the horizon diverged")
    assert(graft.sources.ManifestSink.committedFiles(out).toSet ==
      graft.sources.ManifestSink.committedFilesAsOf(out, 4).toSet,
      "newest snapshot != current committed snapshot")
    val below = intercept[IllegalStateException](asOfIds(2))
    assert(below.getMessage.contains("predates the compaction horizon 3"), below)
    val beyond = intercept[IllegalArgumentException](asOfIds(5))
    assert(beyond.getMessage.contains("has no version 5"), beyond)

    // ——— the SQL catalog face, on a child session so the shared one
    // stays conf-clean. Two snap tables with DIFFERENT schemas under
    // one snap.dir prove the per-table `snap.<name>.schema` contract
    // (round-10 verdict: one catalog-wide conf was a single-table
    // limit).
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", snapDir.toString)
    s.conf.set("spark.sql.catalog.graft.snap.ev.schema",
      "event_id LONG, user_id LONG, event_type STRING")
    val viaSql = s.sql(
      "SELECT event_id FROM graft.snap.ev VERSION AS OF 3")
      .collect().map(_.getLong(0)).toSet
    assert(viaSql == prefixIds(3),
      "SQL VERSION AS OF diverged from the helper's snapshot")
    val current = s.sql("SELECT event_id FROM graft.snap.ev")
      .collect().map(_.getLong(0)).toSet
    assert(current == prefixIds(4), "current SQL read != newest snapshot")
    // second table, two columns, batch-committed (batch appends share
    // the versioned epoch log since round 11 — this one is epoch 0)
    Seq((100L, "x"), (200L, "y")).toDF("k", "name")
      .write.format("graft.sources.ManifestSink").mode("append")
      .option("path", snapDir.resolve("t2").toString).save()
    s.conf.set("spark.sql.catalog.graft.snap.t2.schema", "k LONG, name STRING")
    val t2 = s.sql("SELECT k, name FROM graft.snap.t2")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(t2 == Set((100L, "x"), (200L, "y")), s"t2 read diverged: $t2")
    // and ev still resolves its OWN schema next to t2's
    assert(s.sql("SELECT event_id FROM graft.snap.ev").count() == 15)
    // a non-integer version is a TAG name (round 16); an unknown one
    // refuses naming the tag and spelling the numeric contract
    val bad = intercept[Exception](
      s.sql("SELECT * FROM graft.snap.ev VERSION AS OF 'abc'").collect())
    assert(bad.toString.contains("no tag or branch 'abc'") &&
      bad.toString.contains("integers are epoch ids"), bad.toString)

    // ——— INCREMENTAL read (round 11): sinceVersion/asOfVersion options
    // resolve an epoch window through the same catalog table. With the
    // horizon at 3 (epochs 0..3 swept into compact-3, epoch 4 loose):
    // (3, 4] serves epoch 4's delta exactly …
    val delta = s.read.option("sinceVersion", 3L)
      .table("graft.snap.ev").collect().map(_.getLong(0)).toSet
    assert(delta == slice(4).map(_._1).toSet, s"(3,4] delta diverged: $delta")
    // (asOfVersion defaulting to newest ≡ explicit asOfVersion=4)
    val deltaExplicit = s.read.option("sinceVersion", 3L)
      .option("asOfVersion", 4L).table("graft.snap.ev")
      .collect().map(_.getLong(0)).toSet
    assert(deltaExplicit == delta)
    // … (1, 3] needs swept epochs 2,3 → refused naming them (per-epoch
    // deltas are unrecoverable from the compact union) …
    val swept = intercept[Exception](
      s.read.option("sinceVersion", 1L).option("asOfVersion", 3L)
        .table("graft.snap.ev").collect())
    assert(swept.toString.contains("re-read the full snapshot"), swept.toString)
    // … a window beyond the newest epoch names a snapshot that never
    // existed, and an inverted window is an error, not empty
    val beyondW = intercept[Exception](
      s.read.option("sinceVersion", 4L).option("asOfVersion", 9L)
        .table("graft.snap.ev").collect())
    assert(beyondW.toString.contains("no version 9"), beyondW.toString)
    intercept[Exception](
      s.read.option("sinceVersion", 4L).option("asOfVersion", 2L)
        .table("graft.snap.ev").collect())
    // an empty window (since == asOf) is a valid zero-row read
    assert(s.read.option("sinceVersion", 4L).option("asOfVersion", 4L)
      .table("graft.snap.ev").count() == 0)
    assert(graft.sources.ManifestSink.newestVersion(out) == 4)
    graft.util.Fs.deleteRecursively(root)
  }

  test("TABLE-AS-A-STREAM: a readStream tails the epoch log one epoch " +
    "per trigger; a restart from checkpoint resumes at the committed " +
    "epoch with nothing re-read and nothing skipped (batch appends are " +
    "the writer — the lake loop closed in the other direction)") {
    val root = Files.createTempDirectory("graft_tail_gate")
    val log = root.resolve("t").toString
    def appendEpoch(ids: Seq[Long]): Unit =
      ids.map(i => (i, s"v$i")).toDF("k", "name").coalesce(1)
        .write.format("graft.sources.ManifestSink")
        .option("path", log).mode("append").save()
    def drain(): Unit = {
      val q = spark.readStream.format("graft.sources.ManifestSink")
        .schema("k LONG, name STRING")
        .option("path", log).option("maxEpochsPerTrigger", "1").load()
        .writeStream.format("parquet")
        .option("path", root.resolve("out").toString)
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    appendEpoch(Seq(1L, 2L)); appendEpoch(Seq(3L))
    drain() // reads epochs 0 and 1, checkpoint now at offset 1
    appendEpoch(Seq(4L)); appendEpoch(Seq(5L, 6L))
    drain() // a NEW query instance resumes from the checkpoint
    val got = spark.read.parquet(root.resolve("out").toString)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(got == Seq(1L, 2L, 3L, 4L, 5L, 6L),
      s"restart re-read or skipped an epoch: $got")

    // ——— VACUUM: an unlisted (crash-orphan) data file is reclaimed
    // once aged; committed files are never candidates; a FRESH orphan
    // survives an age-gated vacuum (it may be an in-flight commit)
    val dataDir = Paths.get(log, "data")
    val orphan = dataDir.resolve("part-orphan-crashed.csv")
    Files.write(orphan, "99,vX\n".getBytes(StandardCharsets.UTF_8))
    assert(graft.sources.ManifestSink.vacuum(log, 3600000L).isEmpty,
      "age-gated vacuum reclaimed a fresh file (could be mid-commit)")
    assert(Files.exists(orphan))
    val before = graft.sources.ManifestSink.committedFiles(log).toSet
    assert(graft.sources.ManifestSink.vacuum(log, 0L) ==
      Seq("part-orphan-crashed.csv"), "vacuum(0) must reclaim the orphan")
    assert(!Files.exists(orphan))
    assert(graft.sources.ManifestSink.committedFiles(log).toSet == before,
      "vacuum touched the committed snapshot")
    assert(before.forall(f => Files.exists(Paths.get(f))),
      "vacuum deleted a committed data file")
    graft.util.Fs.deleteRecursively(root)
  }

  test("MIXED WRITERS (the r11 confirmed data-loss defect): a batch " +
    "append between two runs of a streaming query claims its own log " +
    "epoch, and the restarted stream's next micro-batch commits as NEW " +
    "data — never mis-read as a replay — because replay detection is " +
    "per-writer (#txn records), not epoch-file existence") {
    val root = Files.createTempDirectory("graft_mixed_writers")
    val srcDir = root.resolve("src"); Files.createDirectories(srcDir)
    val log = root.resolve("t").toString
    def slice(i: Int): Seq[(Long, Long, String)] =
      (0 to 2).map(j => (i * 10L + j, i.toLong, s"t$i"))
    def land(i: Int): Unit =
      slice(i).toDF("event_id", "user_id", "event_type")
        .coalesce(1).write.mode("append").parquet(srcDir.toString)
    val schema = Seq.empty[(Long, Long, String)]
      .toDF("event_id", "user_id", "event_type").schema
    def run(feeds: Seq[Int]): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
        .writeStream.format("graft.sources.ManifestSink")
        .option("path", log)
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .outputMode("append").start()
      try feeds.foreach { i => land(i); q.processAllAvailable() }
      finally q.stop()
    }
    run(Seq(0, 1)) // stream commits engine epochs 0,1 -> log epochs 0,1
    // a batch append interleaves: claims LOG epoch 2 — the id the r11
    // scheme would have collided with the restarted stream's engine
    // epoch 2 (its commit was deleted as a "replay"; event_id=20 lost)
    Seq((500L, 99L, "batch"), (501L, 99L, "batch"))
      .toDF("event_id", "user_id", "event_type").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", log).mode("append").save()
    run(Seq(2)) // restart: engine epoch 2 must land as LOG epoch 3
    def ids(): Set[Long] = {
      val files = graft.sources.ManifestSink.committedFiles(log)
      spark.read.schema("event_id LONG, user_id LONG, event_type STRING")
        .parquet(files: _*).collect().map(_.getLong(0)).toSet
    }
    val expected = (0 to 2).flatMap(slice(_).map(_._1)).toSet ++ Set(500L, 501L)
    assert(ids() == expected,
      s"mixed batch+streaming writers lost rows: ${expected -- ids()}")
    assert(graft.sources.ManifestSink.newestVersion(log) == 3,
      "four commits must occupy four distinct log epochs")
    // the (2, 3] delta is exactly the restarted stream's micro-batch —
    // engine epochs were REMAPPED onto claimed log ids, not reused
    val delta = spark.read
      .schema("event_id LONG, user_id LONG, event_type STRING")
      .parquet(graft.sources.ManifestSink.committedFilesBetween(log, 2, 3): _*)
      .collect().map(_.getLong(0)).toSet
    assert(delta == slice(2).map(_._1).toSet,
      s"restarted stream's epoch is not log epoch 3: $delta")

    // ——— CONCURRENT stream-vs-batch race (next to IngestSpec's 4-thread
    // batch race): batch appends fire WHILE the stream is committing,
    // under an aggressive compactInterval=3 so claim/compaction races
    // are exercised too. Every commit from both faces must be visible.
    val root2 = Files.createTempDirectory("graft_mixed_race")
    val src2 = root2.resolve("src"); Files.createDirectories(src2)
    val log2 = root2.resolve("t").toString
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src2.toString)
      .writeStream.format("graft.sources.ManifestSink")
      .option("path", log2).option("compactInterval", "3")
      .option("checkpointLocation", root2.resolve("ckpt").toString)
      .outputMode("append").start()
    try {
      (0 until 5).foreach { i =>
        val batchIds = Seq(1000L + 2 * i, 1001L + 2 * i)
        val f = pool.submit(new Runnable {
          override def run(): Unit =
            batchIds.map((_, 99L, "batch"))
              .toDF("event_id", "user_id", "event_type").coalesce(1)
              .write.format("graft.sources.ManifestSink")
              .option("path", log2).option("compactInterval", "3")
              .mode("append").save()
        })
        slice(i).toDF("event_id", "user_id", "event_type")
          .coalesce(1).write.mode("append").parquet(src2.toString)
        q.processAllAvailable()
        f.get(120, java.util.concurrent.TimeUnit.SECONDS)
      }
    } finally { q.stop(); pool.shutdown() }
    def ids2(): Set[Long] = {
      val files = graft.sources.ManifestSink.committedFiles(log2)
      spark.read.schema("event_id LONG, user_id LONG, event_type STRING")
        .parquet(files: _*).collect().map(_.getLong(0)).toSet
    }
    val expected2 = (0 until 5).flatMap(slice(_).map(_._1)).toSet ++
      (0 until 10).map(1000L + _).toSet
    assert(ids2() == expected2,
      s"concurrent stream-vs-batch race lost rows: ${expected2 -- ids2()}")
    assert(graft.sources.ManifestSink.newestVersion(log2) == 9,
      "10 racing commits must serialize onto 10 distinct log epochs")
    graft.util.Fs.deleteRecursively(root)
    graft.util.Fs.deleteRecursively(root2)
  }

  test("DATA SKIPPING: a filtered snap read plans strictly fewer files " +
    "than the snapshot lists (pruned by the #stats min/max the writers " +
    "recorded), with values identical to the unpruned read; SCHEMA-IN-" +
    "LOG: an epoch landed under a different schema makes reads refuse " +
    "loudly instead of serving rows under a stale DDL") {
    val root = Files.createTempDirectory("graft_snap_skip")
    val snapDir = root.resolve("snap"); Files.createDirectories(snapDir)
    val log = snapDir.resolve("kv").toString
    // four single-file epochs with DISJOINT k ranges — the stats index
    // makes each range filter resolvable to exactly one file
    (0 until 4).foreach { i =>
      (0 to 2).map(j => (i * 100L + j, s"v$i$j")).toDF("k", "name")
        .coalesce(1).write.format("graft.sources.ManifestSink")
        .option("path", log).mode("append").save()
    }
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", snapDir.toString)
    s.conf.set("spark.sql.catalog.graft.snap.kv.schema", "k LONG, name STRING")
    def prune(): (Int, Int) = graft.sources.SnapTable.lastPruneOf("kv")
    // unfiltered: all four files plan
    assert(s.sql("SELECT k FROM graft.snap.kv").count() == 12)
    assert(prune() == (4, 4))
    // equality: one file
    val eq = s.sql("SELECT k, name FROM graft.snap.kv WHERE k = 101")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(eq == Set((101L, "v11")))
    assert(prune() == (4, 1), s"k=101 should plan 1 of 4 files: ${prune()}")
    // range: two files (k >= 200)
    assert(s.sql("SELECT count(*) AS n FROM graft.snap.kv WHERE k >= 200")
      .collect().head.getLong(0) == 6)
    assert(prune() == (4, 2))
    // conjunction and IN
    assert(s.sql(
      "SELECT count(*) AS n FROM graft.snap.kv WHERE k > 150 AND k < 250")
      .collect().head.getLong(0) == 3)
    assert(prune() == (4, 1))
    assert(s.sql(
      "SELECT count(*) AS n FROM graft.snap.kv WHERE k IN (2, 302)")
      .collect().head.getLong(0) == 2)
    assert(prune() == (4, 2))
    // impossible predicate: ZERO files plan, empty (not failing) scan
    assert(s.sql("SELECT k FROM graft.snap.kv WHERE k = 5000").count() == 0)
    assert(prune() == (4, 0))
    // string-column predicates prune too (round 13: truncated-ASCII
    // string #stats): each epoch's name envelope is disjoint
    // ([v00,v02], [v10,v12], …), so an equality resolves to one file
    // and a LIKE-prefix to its epoch
    assert(s.sql(
      "SELECT count(*) AS n FROM graft.snap.kv WHERE name = 'v22'")
      .collect().head.getLong(0) == 1)
    assert(prune() == (4, 1), s"name='v22' should plan 1 of 4: ${prune()}")
    assert(s.sql(
      "SELECT count(*) AS n FROM graft.snap.kv WHERE name LIKE 'v3%'")
      .collect().head.getLong(0) == 3)
    assert(prune() == (4, 1), s"LIKE 'v3%' should plan 1 of 4: ${prune()}")
    assert(s.sql(
      "SELECT count(*) AS n FROM graft.snap.kv WHERE name >= 'v20'")
      .collect().head.getLong(0) == 6)
    assert(prune() == (4, 2))
    // an impossible string predicate plans zero files
    assert(s.sql(
      "SELECT count(*) AS n FROM graft.snap.kv WHERE name = 'zzz'").count() == 1)
    assert(prune() == (4, 0))
    // time travel composes with skipping: snapshot 1 lists 2 files,
    // the filter keeps one
    assert(s.sql(
      "SELECT count(*) AS n FROM graft.snap.kv VERSION AS OF 1 WHERE k < 100")
      .collect().head.getLong(0) == 3)
    assert(prune() == (2, 1))

    // ——— SCHEMA-IN-LOG + ADDITIVE EVOLUTION (round 13): land an epoch
    // under a WIDENED schema. Reads under the old NARROW conf refuse
    // (the new epoch recorded a column the declared DDL lacks — serving
    // it would silently drop committed data), naming both DDLs …
    (0 to 1).map(j => (900L + j, s"w$j", j.toLong))
      .toDF("k", "name", "extra").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", log).mode("append").save()
    val refuse = intercept[Exception](
      s.sql("SELECT k FROM graft.snap.kv").collect())
    assert(refuse.toString.contains("does not match") &&
      refuse.toString.contains("extra"), refuse.toString)
    // … while the WIDENED conf serves the whole union: pre-evolution
    // files null-fill the appended column (the parquet by-name read),
    // new-epoch rows carry their values
    s.conf.set("spark.sql.catalog.graft.snap.kv.schema",
      "k LONG, name STRING, extra LONG")
    val evolved = s.sql(
      "SELECT count(*) AS n, count(extra) AS with_extra, " +
        "sum(extra) AS extra_sum FROM graft.snap.kv").collect().head
    assert(evolved.getLong(0) == 14 && evolved.getLong(1) == 2 &&
      evolved.getLong(2) == 1L,
      s"additive evolution misread the union: $evolved")
    // and a TYPE change still refuses under any conf
    s.conf.set("spark.sql.catalog.graft.snap.kv.schema",
      "k LONG, name STRING, extra STRING")
    intercept[Exception](s.sql("SELECT k FROM graft.snap.kv").collect())
    graft.util.Fs.deleteRecursively(root)
  }

  test("ReadLimit admission (advisor r11): the tailing stream honors " +
    "engine-provided maxRows/maxFiles/composite limits, sized from the " +
    "#stats records the epoch manifests carry; at least one epoch " +
    "always admits; missing-table reads stay friendly") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val root = Files.createTempDirectory("graft_readlimit")
    val log = root.resolve("t").toString
    // four single-file epochs of 3 rows each
    (0 until 4).foreach { i =>
      (0 to 2).map(j => (i * 10L + j, s"v$i")).toDF("k", "name").coalesce(1)
        .write.format("graft.sources.ManifestSink")
        .option("path", log).mode("append").save()
    }
    val kName = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, name STRING")
    val ms = new graft.sources.ManifestMicroBatchStream(
      log, kName, Int.MaxValue)
    def off(startId: Long, l: ReadLimit): Long =
      ms.latestOffset(graft.sources.EpochOffset(startId), l)
        .asInstanceOf[graft.sources.EpochOffset].id
    assert(off(-1, ReadLimit.allAvailable()) == 3)
    assert(off(-1, ReadLimit.maxFiles(2)) == 1,
      "maxFiles(2) must admit exactly the two 1-file epochs")
    assert(off(-1, ReadLimit.maxFiles(1)) == 0)
    // whole epochs admit until the row budget is crossed (the built-in
    // file source's crossing-file convention)
    assert(off(-1, ReadLimit.maxRows(5)) == 1,
      "maxRows(5) admits epochs 0 (3 rows) and 1 (crosses at 6)")
    assert(off(-1, ReadLimit.maxRows(100)) == 3)
    assert(off(1, ReadLimit.maxRows(1)) == 2, "at least one epoch admits")
    assert(off(-1, ReadLimit.compositeLimit(
      Array(ReadLimit.maxRows(100), ReadLimit.maxFiles(1)))) == 0,
      "composite takes the tightest limit")
    assert(off(3, ReadLimit.maxFiles(1)) == 3, "caught up: no progress")
    // the maxEpochsPerTrigger table option still caps on top
    val ms1 = new graft.sources.ManifestMicroBatchStream(log, kName, 1)
    assert(ms1.latestOffset(graft.sources.EpochOffset(-1L),
      ReadLimit.maxFiles(3)).asInstanceOf[graft.sources.EpochOffset].id == 0)

    // ——— missing table dir (advisor r11): friendly refusals/empties,
    // not a raw NoSuchFileException after 8 futile vanish-retries
    val ghost = root.resolve("nope").toString
    assert(graft.sources.ManifestSink.committedFiles(ghost).isEmpty)
    val eA = intercept[IllegalArgumentException](
      graft.sources.ManifestSink.committedFilesAsOf(ghost, 0))
    assert(eA.getMessage.contains("no version"), eA)
    val eB = intercept[IllegalArgumentException](
      graft.sources.ManifestSink.committedFilesBetween(ghost, -1, 0))
    assert(eB.getMessage.contains("no version"), eB)
    graft.util.Fs.deleteRecursively(root)
  }

  test("VACUUM through SQL (CALL graft.sys.vacuum): the age gate holds " +
    "on the SQL path (fresh orphans survive a day-long cutoff), " +
    "committed files are never reclaimed, and procedure resolution " +
    "errors are loud; q_snap_skipping really plans fewer files than " +
    "the snapshot lists") {
    val root = Files.createTempDirectory("graft_vacuum_face")
    val log = root.resolve("vt").toString
    (1L to 3L).map(i => (i, s"r$i")).toDF("k", "name").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", log).mode("append").save()
    val fresh = Paths.get(log, "data", "orphan-fresh.csv")
    Files.write(fresh, "9,z\n".getBytes(StandardCharsets.UTF_8))
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    s.conf.set("spark.sql.catalog.graft.snap.vt.schema", "k LONG, name STRING")
    // age gate through SQL: a fresh unreferenced file may be mid-commit
    assert(s.sql("CALL graft.sys.vacuum('vt', 86400000)").count() == 0,
      "SQL vacuum reclaimed a fresh file (could be mid-commit)")
    assert(Files.exists(fresh))
    // zero cutoff reclaims it; the committed snapshot is untouched
    val deleted = s.sql("CALL graft.sys.vacuum('vt', 0)")
      .collect().map(_.getString(0)).toSeq
    assert(deleted == Seq("orphan-fresh.csv"), deleted)
    assert(s.sql("SELECT count(*) FROM graft.snap.vt")
      .collect().head.getLong(0) == 3, "SQL vacuum touched committed data")
    // resolution errors: unknown procedure, missing table, absent conf
    val noProc = intercept[Exception](s.sql("CALL graft.sys.nope()").collect())
    assert(noProc.toString.contains("Failed to load routine") &&
      noProc.toString.contains("nope"), noProc.toString)
    val noTable = intercept[Exception](
      s.sql("CALL graft.sys.vacuum('ghost', 0)").collect())
    assert(noTable.toString.contains("no manifest table"), noTable.toString)
    graft.util.Fs.deleteRecursively(root)

    // ——— q_snap_skipping (the oracled query): after it runs, the
    // recorder must show a strict prune — the filter names one of the
    // four residue epochs, so at most a quarter of the files plan
    val q = graft.SparkEntry.queries("q_snap_skipping")(spark, TestSpark.Sf0001)
    assert(q.collect().nonEmpty)
    val (listed, planned) = graft.sources.SnapTable.lastPruneOf("evskip")
    assert(planned >= 1 && planned < listed,
      s"q_snap_skipping did not skip files: $planned of $listed planned")
    assert(listed == 4 && planned == 1,
      s"four residue epochs, one matching: expected (4,1), got ($listed,$planned)")

    // ——— q_snap_skip_str (round 13): per-language epochs, string
    // #stats resolve lang='de' to exactly one of the five files
    val qs = graft.SparkEntry.queries("q_snap_skip_str")(spark, TestSpark.Sf0001)
    assert(qs.collect().nonEmpty)
    val (sListed, sPlanned) = graft.sources.SnapTable.lastPruneOf("docskip")
    assert(sListed == 5 && sPlanned == 1,
      s"five language epochs, one matching: expected (5,1), got ($sListed,$sPlanned)")

    // ——— q_snap_skip_time (round 13): per-week epochs, micros ts
    // #stats prune the three pre-Jan-22 weeks
    val qt = graft.SparkEntry.queries("q_snap_skip_time")(spark, TestSpark.Sf0001)
    assert(qt.collect().nonEmpty)
    val (tListed, tPlanned) = graft.sources.SnapTable.lastPruneOf("evtime")
    assert(tListed == 4 && tPlanned == 1,
      s"four week epochs, one matching: expected (4,1), got ($tListed,$tPlanned)")

    // ——— q_snap_delete (round 13): the COW delete rewrites ONLY the
    // one file whose string+long stats admit the predicate
    val qd = graft.SparkEntry.queries("q_snap_delete")(spark, TestSpark.Sf0001)
    assert(qd.collect().nonEmpty)
    val (dTotal, dRewritten) = graft.sources.SnapTable.lastDeleteOf("docdel")
    assert(dTotal == 5 && dRewritten == 1,
      s"five language epochs, one admitting the delete: expected " +
        s"(5,1), got ($dTotal,$dRewritten)")
  }

  test("string #stats truncation (round 13): >32-char values record a " +
    "prefix lower bound and a BUMPED strict upper bound, exact-match " +
    "predicates on the full values still find their rows (truncation " +
    "never misprunes), and a non-ASCII value drops its FILE's string " +
    "stats without losing the row") {
    val root = Files.createTempDirectory("graft_snap_trunc")
    val log = root.resolve("tt").toString
    val longA = "a" * 40 // both exceed StrColStat.Truncate = 32
    val longZ = "z" * 40
    Seq((1L, longA), (2L, longZ), (3L, "mid"))
      .toDF("k", "name").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", log).mode("append").save()
    val st = graft.sources.ManifestSink.fileStats(log).values.head
    assert(st.strCols("name")._1 == "a" * 32, st.strCols) // prefix min
    assert(st.strCols("name")._2.contains("z" * 31 + "{"), // 'z'+1 bump
      st.strCols)
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    s.conf.set("spark.sql.catalog.graft.snap.tt.schema", "k LONG, name STRING")
    assert(s.sql(s"SELECT k FROM graft.snap.tt WHERE name = '$longA'")
      .collect().map(_.getLong(0)).toSeq == Seq(1L),
      "truncated min pruned the row holding the true minimum")
    assert(s.sql(s"SELECT k FROM graft.snap.tt WHERE name = '$longZ'")
      .collect().map(_.getLong(0)).toSeq == Seq(2L),
      "bumped max pruned the row holding the true maximum")
    // beyond the bumped upper bound: zero files plan, result correct
    assert(s.sql("SELECT k FROM graft.snap.tt WHERE name = '~~~'").count() == 0)
    assert(graft.sources.SnapTable.lastPruneOf("tt") == ((1, 0)))
    // a non-ASCII value lands a second epoch whose file carries no
    // string stats (the ASCII ordering contract) — and still serves
    Seq((9L, "café")).toDF("k", "name").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", log).mode("append").save()
    val sts = graft.sources.ManifestSink.fileStats(log)
    assert(sts.values.count(_.strCols.contains("name")) == 1,
      s"non-ASCII file must carry no string stats: $sts")
    assert(s.sql("SELECT k FROM graft.snap.tt WHERE name = 'café'")
      .collect().map(_.getLong(0)).toSeq == Seq(9L))
    graft.util.Fs.deleteRecursively(root)
  }

  test("STREAMING the catalog table (round 13): readStream.table" +
    "('graft.snap.t') tails the epoch log — one catalog name serves " +
    "batch, time travel, incremental windows AND the stream; version " +
    "options refuse for streams (offsets are live epoch ids)") {
    val root = Files.createTempDirectory("graft_snap_stream")
    val log = root.resolve("st").toString
    (0 until 4).foreach { i =>
      (0 to 2).map(j => (i * 100L + j, s"v$i$j")).toDF("k", "name")
        .coalesce(1).write.format("graft.sources.ManifestSink")
        .option("path", log).mode("append").save()
    }
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    s.conf.set("spark.sql.catalog.graft.snap.st.schema", "k LONG, name STRING")
    val q = s.readStream.option("maxEpochsPerTrigger", 2)
      .table("graft.snap.st")
      .groupBy().agg(count(lit(1)).as("n"), sum(col("k")).as("ks"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("snap_st_tail").start()
    try {
      q.processAllAvailable()
      val r = s.sql("SELECT n, ks FROM snap_st_tail").collect().head
      val want = (0 until 4).flatMap(i => (0 to 2).map(j => i * 100L + j))
      assert(r.getLong(0) == 12 && r.getLong(1) == want.sum,
        s"catalog stream tail misread the log: $r")
      // a LIVE append lands in the same running stream — the tail is
      // the log, not a startup snapshot
      Seq((900L, "late")).toDF("k", "name").coalesce(1)
        .write.format("graft.sources.ManifestSink")
        .option("path", log).mode("append").save()
      q.processAllAvailable()
      val r2 = s.sql("SELECT n, ks FROM snap_st_tail").collect().head
      assert(r2.getLong(0) == 13 && r2.getLong(1) == want.sum + 900L,
        s"late epoch did not flow into the catalog stream: $r2")
    } finally q.stop()
    def msgs(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .flatMap(e => Option(e.getMessage)).toSeq
    val bad = intercept[Exception] {
      val qq = s.readStream.option("asOfVersion", 1).table("graft.snap.st")
        .writeStream.format("noop").start()
      try qq.processAllAvailable() finally qq.stop()
    }
    assert(msgs(bad).exists(_.contains("tail the LIVE log")), bad.toString)
    graft.util.Fs.deleteRecursively(root)
  }

  test("row-level DELETE (round 13): copy-on-write over the stats-" +
    "affected files only, committed as ONE atomic adds+removes epoch; " +
    "time travel still serves the pre-delete snapshot; incremental " +
    "windows crossing the delete refuse; removed files stay vacuum-" +
    "PROTECTED while retained versions reference them (r14); " +
    "predicate-NULL rows survive") {
    val root = Files.createTempDirectory("graft_snap_delete")
    val log = root.resolve("dt").toString
    // epochs 0..3 with disjoint k ranges; epoch 3 carries a null name
    (0 until 4).foreach { i =>
      val rows =
        if (i == 3) Seq((300L, "v30"), (301L, null.asInstanceOf[String]), (302L, "v32"))
        else (0 to 2).map(j => (i * 100L + j, s"v$i$j"))
      rows.toDF("k", "name").coalesce(1)
        .write.format("graft.sources.ManifestSink")
        .option("path", log).mode("append").save()
    }
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    s.conf.set("spark.sql.catalog.graft.snap.dt.schema", "k LONG, name STRING")
    // partial delete inside ONE file: only epoch 1's k-envelope admits
    s.sql("DELETE FROM graft.snap.dt WHERE k = 101")
    assert(graft.sources.SnapTable.lastDeleteOf("dt") == ((4, 1)),
      "COW must rewrite only the stats-affected file")
    assert(s.sql("SELECT count(*) AS n FROM graft.snap.dt")
      .collect().head.getLong(0) == 11)
    assert(s.sql("SELECT k FROM graft.snap.dt WHERE k >= 100 AND k < 200")
      .collect().map(_.getLong(0)).toSet == Set(100L, 102L),
      "survivors of the rewritten file must persist")
    // the delete is ONE epoch: 4 appends -> epoch ids 0..3, delete = 4
    assert(graft.sources.ManifestSink.newestVersion(log) == 4)
    // time travel: the pre-delete snapshot still serves all 12 rows
    assert(s.sql("SELECT count(*) AS n FROM graft.snap.dt VERSION AS OF 3")
      .collect().head.getLong(0) == 12)
    // an incremental window CROSSING the delete epoch refuses loudly
    val crossed = intercept[IllegalStateException](
      graft.sources.ManifestSink.committedFilesBetween(log, 3, 4))
    assert(crossed.getMessage.contains("row-level DELETE"), crossed.getMessage)
    // windows before the delete still serve
    assert(graft.sources.ManifestSink.committedFilesBetween(log, 2, 3).size == 1)
    // the removed (pre-rewrite) file is unlisted from the CURRENT
    // union but still REFERENCED by the retained pre-delete versions
    // (round 14): vacuum must reclaim NOTHING while the remove epoch
    // is loose, and VERSION AS OF keeps serving after the call — the
    // "nothing a servable version references is reclaimed" contract
    // the r13 creation-time gate silently broke (advisor r13)
    val before = graft.sources.ManifestSink.committedFiles(log).toSet
    val reclaimed = graft.sources.ManifestSink.vacuum(log, 0L)
    assert(reclaimed.isEmpty,
      s"vacuum reclaimed file(s) a retained VERSION AS OF still serves: $reclaimed")
    assert(graft.sources.ManifestSink.committedFiles(log).toSet == before)
    assert(s.sql("SELECT count(*) AS n FROM graft.snap.dt VERSION AS OF 3")
      .collect().head.getLong(0) == 12,
      "the pre-delete version must survive a vacuum run while its epochs are retained")
    // NULL-predicate rows survive a delete (SQL deletes TRUE rows only)
    s.sql("DELETE FROM graft.snap.dt WHERE name = 'v30'")
    assert(s.sql("SELECT k FROM graft.snap.dt WHERE k >= 300")
      .collect().map(_.getLong(0)).toSet == Set(301L, 302L),
      "the null-name row must survive a name-predicate delete")
    // deleting with an envelope no file admits rewrites NOTHING
    s.sql("DELETE FROM graft.snap.dt WHERE k = 5000")
    assert(graft.sources.SnapTable.lastDeleteOf("dt")._2 == 0,
      "an impossible predicate must not rewrite any file")
    graft.util.Fs.deleteRecursively(root)
  }

  test("compact_data (round 13): small files bin-pack into one atomic " +
    "adds+removes epoch, value-invisibly; pre-compaction snapshots " +
    "still serve; the dead small files vacuum away only after the log " +
    "sweep AND a retention window counted from REMOVAL time (r14); a " +
    "packed table re-compacts as a no-op") {
    val root = Files.createTempDirectory("graft_snap_pack")
    val log = root.resolve("ct").toString
    (0 until 4).foreach { i =>
      (0 to 2).map(j => (i * 100L + j, s"v$i$j")).toDF("k", "name")
        .coalesce(1).write.format("graft.sources.ManifestSink")
        .option("path", log).mode("append").save()
    }
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    s.conf.set("spark.sql.catalog.graft.snap.ct.schema", "k LONG, name STRING")
    def content(): Set[(Long, String)] =
      s.sql("SELECT k, name FROM graft.snap.ct").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val before = content()
    assert(before.size == 12)
    // back-date the small files' CREATION time: the reclaim gate below
    // must count from their REMOVAL, not from this ancient mtime
    val small = graft.sources.ManifestSink.committedFiles(log)
    small.foreach(f => Files.setLastModifiedTime(
      java.nio.file.Paths.get(f),
      java.nio.file.attribute.FileTime.fromMillis(0)))
    val res = s.sql("CALL graft.sys.compact_data('ct', 100)")
      .collect().head
    assert((res.getLong(0), res.getLong(1), res.getLong(2)) == ((4L, 1L, 12L)),
      s"compact_data result: $res")
    assert(content() == before, "compaction must be value-invisible")
    assert(graft.sources.ManifestSink.committedFiles(log).size == 1,
      "four small files must pack into one")
    // the pre-compaction snapshot still serves through time travel
    assert(s.sql("SELECT count(*) AS n FROM graft.snap.ct VERSION AS OF 3")
      .collect().head.getLong(0) == 12)
    // the dead small files stay REFERENCED by the retained
    // pre-compaction versions (round 14): vacuum reclaims nothing
    // while the remove epoch is loose
    assert(graft.sources.ManifestSink.vacuum(log, 0L).isEmpty,
      "vacuum reclaimed files retained versions still serve")
    // resolve the remove by sweeping the log: a compactInterval-2
    // append folds epochs 0..5 into one compact manifest, after which
    // the dead files are referenced by NO live fragment (the append is
    // 100 rows — at the packing target, so the no-op pin below still
    // sees exactly one undersized file)
    val extra = (1000L until 1100L).map(k => (k, s"z$k"))
    extra.toDF("k", "name").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", log).option("compactInterval", "2")
      .mode("append").save()
    // ...but reclaim eligibility counts from REMOVAL (the COW commit
    // touched the victims' mtime, advisor r13): a generous retention
    // window still protects files an in-flight pre-compaction reader
    // may hold, despite their back-dated creation time
    assert(graft.sources.ManifestSink.vacuum(log, 86400000L).isEmpty,
      "retention must count from remove time, not the ancient creation mtime")
    // an expired window reclaims exactly the four dead files
    assert(graft.sources.ManifestSink.vacuum(log, 0L).size == 4)
    assert(content() == before ++ extra, "vacuum touched data")
    // idempotence: one packed file is never re-compacted (< 2 small)
    val again = s.sql("CALL graft.sys.compact_data('ct', 100)")
      .collect().head
    assert((again.getLong(0), again.getLong(1), again.getLong(2)) == ((0L, 0L, 0L)))
    graft.util.Fs.deleteRecursively(root)
  }

  test("METADATA COST PIN (round 12): across a 100-epoch log, a " +
    "non-compacting commit writes metadata proportional to ITS OWN " +
    "delta — independent of table age (r11 rewrote the full union per " +
    "commit: O(total files) bytes per epoch, cumulatively quadratic); " +
    "only the every-interval compaction pays O(union)") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import graft.sources.{ColStat, CommittedFile, ManifestBatchWrite, ManifestSink}
    val dir = Files.createTempDirectory("graft_meta_cost")
    val w = ManifestBatchWrite(dir.toString,
      StructType(Seq(StructField("k", LongType)))) // compactInterval 10
    val deltas = (0 until 100).map { i =>
      val before = graft.sources.ManifestSink.metadataBytes.get()
      w.commit(Array(CommittedFile(f"f$i%03d.csv", 1, Seq(ColStat("k", i, i)))))
      graft.sources.ManifestSink.metadataBytes.get() - before
    }
    // non-compacting commits: one epoch manifest of one file — flat
    // across the log's whole life (the id-width slack is a few chars)
    val flat = deltas.zipWithIndex.filterNot(_._2 % 10 == 9).map(_._1)
    assert(flat.max <= flat.min + 16,
      s"non-compacting commit metadata grew with table age: " +
        s"min=${flat.min} max=${flat.max}")
    val early = deltas.zipWithIndex.filter(e => e._2 % 10 != 9 && e._2 < 10)
    val late = deltas.zipWithIndex.filter(e => e._2 % 10 != 9 && e._2 >= 90)
    assert(late.map(_._1).max <= early.map(_._1).max + 16,
      s"late commits cost more than early: $early vs $late")
    // compacting commits (every 10th) pay the union — strictly growing,
    // and the ONLY place O(total) is paid
    val compacting = deltas.zipWithIndex.filter(_._2 % 10 == 9).map(_._1)
    assert(compacting == compacting.sorted && compacting.last > flat.max,
      s"compaction cost not the growing O(union) term: $compacting")
    // after 100 epochs at interval 10: exactly one compact fragment
    // remains and zero loose epochs — fragments-read is O(N/interval)
    def top(prefix: String): Int = {
      val s = Files.list(dir)
      try s.iterator().asScala.count(_.getFileName.toString.startsWith(prefix))
      finally s.close()
    }
    assert(top("compact-") == 1 && top("epoch-") == 0,
      s"fragment shape off: ${top("compact-")} compacts, ${top("epoch-")} loose")
    assert(ManifestSink.newestVersion(dir.toString) == 99)
    assert(ManifestSink.committedFiles(dir.toString).size == 100)
    graft.util.Fs.deleteRecursively(dir)
  }

  test("committedFilesBetween: epoch windows are exact deltas; windows " +
    "crossing swept epochs are refused; pre-sweep loose history still " +
    "serves") {
    val base = Files.createTempDirectory("graft_between_unit")
    def betweenNames(dir: Path, s: Long, a: Long): Seq[String] =
      graft.sources.ManifestSink.committedFilesBetween(dir.toString, s, a)
        .map(p => Paths.get(p).getFileName.toString).sorted
    // loose 5,6,7 — every window is its manifest concatenation
    val a = base.resolve("a")
    mkLog(a, Seq(("epoch", 5L, Seq("f5")), ("epoch", 6L, Seq("f6a", "f6b")),
      ("epoch", 7L, Seq("f7"))))
    assert(betweenNames(a, 5, 7) == Seq("f6a", "f6b", "f7"))
    assert(betweenNames(a, 6, 7) == Seq("f7"))
    assert(betweenNames(a, -1, 7) == Seq("f5", "f6a", "f6b", "f7"),
      "since=-1 ≡ the full snapshot")
    assert(betweenNames(a, 7, 7).isEmpty, "empty window")
    intercept[IllegalArgumentException](betweenNames(a, 5, 8)) // beyond newest
    intercept[IllegalArgumentException](betweenNames(a, 7, 6)) // inverted
    // pre-sweep crash window: compact-7 landed, loose epochs not yet
    // swept — deltas still come straight off the loose manifests
    val b = base.resolve("b")
    mkLog(b, Seq(("epoch", 5L, Seq("f5")), ("epoch", 6L, Seq("f6a", "f6b")),
      ("epoch", 7L, Seq("f7")),
      ("compact", 7L, Seq("f5", "f6a", "f6b", "f7"))))
    assert(betweenNames(b, 5, 7) == Seq("f6a", "f6b", "f7"))
    // post-sweep: epoch 6's delta is gone — refused naming it, even
    // though snapshot 7 itself is servable from the compact
    val c = base.resolve("c")
    mkLog(c, Seq(("epoch", 7L, Seq("f7")),
      ("compact", 6L, Seq("f5", "f6a", "f6b"))))
    assert(betweenNames(c, 6, 7) == Seq("f7"), "loose-only window still fine")
    val e = intercept[IllegalStateException](betweenNames(c, 5, 7))
    assert(e.getMessage.contains("6") &&
      e.getMessage.contains("re-read the full snapshot"), e)
    graft.util.Fs.deleteRecursively(base)
  }

  private def rootCauses(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  test("COMMIT-TIME CONFLICT DETECTION (round 14): a copy-on-write " +
    "commit whose #remove targets were already removed by a commit " +
    "that landed first ABORTS with a retryable error naming the " +
    "conflicting files — delete-vs-delete and delete-vs-compaction " +
    "both fenced, no deleted row ever resurrected") {
    val root = Files.createTempDirectory("graft_snap_conflict")
    val log = root.resolve("cf").toString
    // one file holding keys 1..3 plus an unrelated second file
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "name").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", log).mode("append").save()
    Seq((100L, "x")).toDF("k", "name").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", log).mode("append").save()
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    s.conf.set("spark.sql.catalog.graft.snap.cf.schema", "k LONG, name STRING")
    import org.apache.spark.sql.functions.col
    def fname(p: String) = Paths.get(p).getFileName.toString
    // DELETE A plans against the current snapshot...
    val sharedFile = graft.sources.ManifestSink.committedFiles(log)
      .map(fname).find(_ => true).get // both deletes target epoch 0's file
    val preDelete = s.read.schema("k LONG, name STRING")
      .parquet(s"$log/data/$sharedFile") // B's stale plan input
    // ...and commits first (k=1 removed, survivors {2,3} rewritten)
    s.sql("DELETE FROM graft.snap.cf WHERE k = 1")
    // DELETE B, planned against the PRE-A snapshot (the race's losing
    // interleaving, replayed deterministically): it would remove the
    // same file and publish survivors {1,3} — resurrecting k=1
    val blocked = intercept[Exception] {
      preDelete.filter(col("k") =!= 2L)
        .write.format("graft.sources.ManifestSink")
        .option("path", log).option("removeFiles", sharedFile)
        .mode("append").save()
    }
    val conflict = rootCauses(blocked).collectFirst {
      case c: graft.sources.ManifestConflictException => c }
    assert(conflict.isDefined, s"expected ManifestConflictException, got $blocked")
    assert(conflict.get.conflictingFiles == Seq(sharedFile),
      s"the conflict must NAME the files: ${conflict.get.conflictingFiles}")
    // the loser committed NOTHING: A's outcome stands, k=1 is NOT back
    assert(s.sql("SELECT k FROM graft.snap.cf ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(2L, 3L, 100L),
      "loser's survivors leaked into the snapshot (row resurrection)")
    // DELETE vs COMPACTION: compact_data removes the two small files;
    // a stale delete that planned before it must abort the same way
    val preCompact = graft.sources.ManifestSink.committedFiles(log).map(fname)
    assert(s.sql("CALL graft.sys.compact_data('cf', 100)")
      .collect().head.getLong(0) == 2L)
    val blocked2 = intercept[Exception] {
      s.createDataFrame(Seq((3L, "c"))).toDF("k", "name")
        .write.format("graft.sources.ManifestSink")
        .option("path", log).option("removeFiles", preCompact.head)
        .mode("append").save()
    }
    val conflict2 = rootCauses(blocked2).collectFirst {
      case c: graft.sources.ManifestConflictException => c }
    assert(conflict2.isDefined, s"delete-vs-compaction not fenced: $blocked2")
    assert(s.sql("SELECT count(*) FROM graft.snap.cf")
      .collect().head.getLong(0) == 3, "post-compaction snapshot corrupted")
    graft.util.Fs.deleteRecursively(root)
  }

  test("CONFLICT DETECTION under true concurrency (round 14): eight " +
    "writers race copy-on-write commits removing ONE shared file — " +
    "exactly one wins, seven abort with the conflict error, and the " +
    "final snapshot is exactly the winner's") {
    val root = Files.createTempDirectory("graft_snap_race")
    val log = root.resolve("rc").toString
    Seq((0L, "seed")).toDF("k", "name").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", log).mode("append").save()
    def fname(p: String) = Paths.get(p).getFileName.toString
    val victim = graft.sources.ManifestSink.committedFiles(log).map(fname).head
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val n = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    val outcomes = (0 until n).map { i =>
      val task = pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
        override def call(): Option[Throwable] = {
          start.await()
          try {
            // each racer publishes its OWN survivor row for the shared
            // victim — if more than one commits, the snapshot holds >1
            Seq((1000L + i, s"winner$i")).toDF("k", "name").coalesce(1)
              .write.format("graft.sources.ManifestSink")
              .option("path", log).option("removeFiles", victim)
              .mode("append").save()
            None
          } catch { case t: Throwable => Some(t) }
        }
      })
      task
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "race pool hung")
    val results = outcomes.map(_.get())
    val losers = results.flatten
    assert(losers.size == n - 1,
      s"exactly one racer must win; ${n - results.flatten.size} committed")
    losers.foreach { t =>
      val c = rootCauses(t).collectFirst {
        case c: graft.sources.ManifestConflictException => c }
      assert(c.isDefined, s"loser failed with the wrong error: $t")
      assert(c.get.conflictingFiles == Seq(victim), c.get.conflictingFiles)
    }
    // final content = seed removed, exactly ONE winner row present
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    s.conf.set("spark.sql.catalog.graft.snap.rc.schema", "k LONG, name STRING")
    val ks = s.sql("SELECT k FROM graft.snap.rc").collect().map(_.getLong(0))
    assert(ks.length == 1 && ks.head >= 1000L,
      s"snapshot after the race must hold exactly the winner's row: ${ks.toSeq}")
    graft.util.Fs.deleteRecursively(root)
  }

  test("SCHEMA GUARD on destructive paths (round 14, advisor): a COW " +
    "DELETE and compact_data both REFUSE under a conf schema narrower " +
    "than the log's #schema records — a stale conf must not silently " +
    "drop an evolved column from rewritten files") {
    val root = Files.createTempDirectory("graft_snap_guard")
    val log = root.resolve("gd").toString
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "name", "extra").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", log).mode("append").save()
    Seq((3L, "c", 30L)).toDF("k", "name", "extra").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", log).mode("append").save()
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    // narrow conf: drops the recorded 'extra' column
    s.conf.set("spark.sql.catalog.graft.snap.gd.schema", "k LONG, name STRING")
    val delRefused = intercept[Exception](
      s.sql("DELETE FROM graft.snap.gd WHERE k = 1"))
    assert(rootCauses(delRefused).exists(c =>
      Option(c.getMessage).exists(_.contains("recorded column"))), delRefused)
    val packRefused = intercept[Exception](
      s.sql("CALL graft.sys.compact_data('gd', 100)").collect())
    assert(rootCauses(packRefused).exists(c =>
      Option(c.getMessage).exists(_.contains("recorded column"))), packRefused)
    // the row-level COW faces refuse at operation construction too
    val updRefused = intercept[Exception](
      s.sql("UPDATE graft.snap.gd SET name = 'x' WHERE k = 1"))
    assert(rootCauses(updRefused).exists(c =>
      Option(c.getMessage).exists(_.contains("recorded column"))), updRefused)
    // nothing was rewritten: the widened conf still serves ALL columns
    s.conf.set("spark.sql.catalog.graft.snap.gd.schema",
      "k LONG, name STRING, extra LONG")
    assert(s.sql("SELECT sum(extra) FROM graft.snap.gd")
      .collect().head.getLong(0) == 60L,
      "a refused destructive op must leave every committed byte intact")
    graft.util.Fs.deleteRecursively(root)
  }

  test("CLUSTERED compaction (round 14): compact_data(t, rows, " +
    "'k') range-partitions + sorts the rewrite so point predicates " +
    "plan FEWER files than before — where unclustered bin-packing " +
    "would give every combined file a full-range stats envelope") {
    val root = Files.createTempDirectory("graft_snap_cluster")
    val log = root.resolve("cl").toString
    // 8 small files, EACH spanning the whole key range 0..799 (stride
    // layout): every file's k-envelope admits every point predicate
    (0 until 8).foreach { i =>
      (0 until 100).map(j => (j * 8L + i, s"v$i$j")).toDF("k", "name")
        .coalesce(1).write.format("graft.sources.ManifestSink")
        .option("path", log).mode("append").save()
    }
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    s.conf.set("spark.sql.catalog.graft.snap.cl.schema", "k LONG, name STRING")
    def plannedFor(pred: String): (Int, Int) = {
      s.sql(s"SELECT count(*) FROM graft.snap.cl WHERE $pred").collect()
      graft.sources.SnapTable.lastPruneOf("cl")
    }
    // before: the stride layout defeats skipping — all 8 files planned
    assert(plannedFor("k = 400") == ((8, 8)),
      "stride files must all admit the point predicate")
    // clustered compaction: 4 combined files, range-disjoint on k
    val res = s.sql("CALL graft.sys.compact_data('cl', 200, 'k')")
      .collect().head
    assert((res.getLong(0), res.getLong(1), res.getLong(2)) == ((8L, 4L, 800L)),
      s"clustered compact_data result: $res")
    // after: the point predicate plans exactly ONE of the 4 files
    val (listed, planned) = plannedFor("k = 400")
    assert(listed == 4 && planned == 1,
      s"clustered compaction must make the point read single-file: " +
        s"listed=$listed planned=$planned")
    // value-invisible: every row still present exactly once
    assert(s.sql("SELECT count(*), count(DISTINCT k) FROM graft.snap.cl")
      .collect().head.toSeq == Seq(800L, 800L))
    graft.util.Fs.deleteRecursively(root)
  }

  test("row-level UPDATE + MERGE INTO (round 14): group-based " +
    "copy-on-write through Spark's SupportsRowLevelOperations — the " +
    "runtime group filter narrows the rewrite to the files holding " +
    "matches (pinned), adds+removes land as ONE atomic epoch, time " +
    "travel serves the pre-op snapshot, incremental windows crossing " +
    "a rewrite refuse, and _file is selectable on normal reads") {
    val root = Files.createTempDirectory("graft_snap_rowlevel")
    val log = root.resolve("rl").toString
    // epochs 0..3 with disjoint k ranges, one file each
    (0 until 4).foreach { i =>
      (0 to 2).map(j => (i * 100L + j, s"v$i$j")).toDF("k", "name")
        .coalesce(1).write.format("graft.sources.ManifestSink")
        .option("path", log).mode("append").save()
    }
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    s.conf.set("spark.sql.catalog.graft.snap.rl.schema", "k LONG, name STRING")
    // UPDATE one row inside ONE file: the runtime group filter must
    // narrow the rewrite to that file alone
    s.sql("UPDATE graft.snap.rl SET name = concat(name, '!') WHERE k = 101")
    assert(graft.sources.SnapTable.lastRewriteOf("rl") == ((4, 1)),
      "group filtering must rewrite only the file holding the match: " +
        graft.sources.SnapTable.lastRewriteOf("rl"))
    assert(s.sql("SELECT name FROM graft.snap.rl WHERE k = 101")
      .collect().head.getString(0) == "v11!")
    assert(s.sql("SELECT count(*) FROM graft.snap.rl")
      .collect().head.getLong(0) == 12, "UPDATE must not change the row count")
    // ONE atomic epoch: 4 appends (0..3) + update = 4
    assert(graft.sources.ManifestSink.newestVersion(log) == 4)
    // the pre-update snapshot still serves the original value
    assert(s.sql("SELECT name FROM graft.snap.rl VERSION AS OF 3 WHERE k = 101")
      .collect().head.getString(0) == "v11")
    // an incremental window crossing the rewrite epoch refuses (a COW
    // epoch swaps files — its adds duplicate surviving rows)
    val crossed = intercept[IllegalStateException](
      graft.sources.ManifestSink.committedFilesBetween(log, 3, 4))
    assert(crossed.getMessage.contains("DELETE"), crossed.getMessage)
    // MERGE upsert: one matched update (file 2), one insert
    s.createDataFrame(Seq((201L, "merged"), (999L, "inserted")))
      .toDF("k", "name").createOrReplaceTempView("rl_src")
    s.sql("""MERGE INTO graft.snap.rl t USING rl_src s ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val (snap, rewritten) = graft.sources.SnapTable.lastRewriteOf("rl")
    assert(rewritten == 1 && snap == 4,
      s"merge must rewrite only the matched file: ($snap, $rewritten)")
    assert(s.sql("SELECT name FROM graft.snap.rl WHERE k IN (201, 999) ORDER BY k")
      .collect().map(_.getString(0)).toSeq == Seq("merged", "inserted"))
    assert(s.sql("SELECT count(*) FROM graft.snap.rl")
      .collect().head.getLong(0) == 13)
    // _file on a NORMAL read: the sink's own by-name reader serves the
    // base file name (the parquet delegate cannot), one per partition
    val fileCounts = s.sql(
      "SELECT _file, count(*) AS n FROM graft.snap.rl GROUP BY _file")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(fileCounts.map(_._2).sum == 13 && fileCounts.length >= 4,
      s"_file groups: ${fileCounts.toSeq}")
    assert(fileCounts.forall(_._1.endsWith(".parquet")), fileCounts.toSeq)
    // INSERT INTO: a plain append epoch through the catalog face
    s.sql("INSERT INTO graft.snap.rl VALUES (555, 'ins')")
    assert(s.sql("SELECT name FROM graft.snap.rl WHERE k = 555")
      .collect().head.getString(0) == "ins")
    // an UNTRANSLATABLE delete predicate (subquery) routes through the
    // group-based COW instead of refusing (the r13 SupportsDelete-only
    // face raised on anything canDeleteWhere could not express)
    s.createDataFrame(Seq(Tuple1(300L))).toDF("dk")
      .createOrReplaceTempView("rl_del_src")
    s.sql("DELETE FROM graft.snap.rl WHERE k IN (SELECT dk FROM rl_del_src)")
    assert(s.sql("SELECT count(*) FROM graft.snap.rl WHERE k = 300")
      .collect().head.getLong(0) == 0, "subquery DELETE must remove the row")
    assert(s.sql("SELECT count(*) FROM graft.snap.rl")
      .collect().head.getLong(0) == 13, "subquery DELETE removed extra rows")
    graft.util.Fs.deleteRecursively(root)
  }

  test("MERGE clause matrix (round 14): WHEN MATCHED DELETE, WHEN NOT " +
    "MATCHED INSERT and WHEN NOT MATCHED BY SOURCE UPDATE compose on " +
    "the same copy-on-write path — a by-source clause touches every " +
    "group, so the rewrite correctly spans the table") {
    val root = Files.createTempDirectory("graft_snap_mmx")
    val log = root.resolve("mx").toString
    (0 until 2).foreach { i =>
      (0 to 2).map(j => (i * 100L + j, s"v$i$j")).toDF("k", "name")
        .coalesce(1).write.format("graft.sources.ManifestSink")
        .option("path", log).mode("append").save()
    }
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    s.conf.set("spark.sql.catalog.graft.snap.mx.schema", "k LONG, name STRING")
    s.createDataFrame(Seq((1L, "x"), (999L, "ins")))
      .toDF("k", "name").createOrReplaceTempView("mx_src")
    s.sql("""MERGE INTO graft.snap.mx t USING mx_src s ON t.k = s.k
            |WHEN MATCHED THEN DELETE
            |WHEN NOT MATCHED THEN INSERT *
            |WHEN NOT MATCHED BY SOURCE THEN
            |  UPDATE SET name = concat(t.name, '?')""".stripMargin)
    val got = s.sql("SELECT k, name FROM graft.snap.mx ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = Seq(0L -> "v00?", 2L -> "v02?", 100L -> "v10?",
      101L -> "v11?", 102L -> "v12?", 999L -> "ins")
    assert(got == want, s"merge clause matrix: $got")
    // one atomic epoch for the whole matrix
    assert(graft.sources.ManifestSink.newestVersion(log) == 2)
    graft.util.Fs.deleteRecursively(root)
  }

  test("INSERT OVERWRITE (round 14): a full-snapshot replace lands as " +
    "ONE atomic adds+removes epoch — time travel serves the " +
    "pre-overwrite table, the conflict check fences racing rewrites, " +
    "and streaming truncate refuses") {
    val root = Files.createTempDirectory("graft_snap_ow")
    val log = root.resolve("ow").toString
    (0 until 2).foreach { i =>
      (0 to 2).map(j => (i * 100L + j, s"v$i$j")).toDF("k", "name")
        .coalesce(1).write.format("graft.sources.ManifestSink")
        .option("path", log).mode("append").save()
    }
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    s.conf.set("spark.sql.catalog.graft.snap.ow.schema", "k LONG, name STRING")
    def fname(p: String) = Paths.get(p).getFileName.toString
    val preFiles = graft.sources.ManifestSink.committedFiles(log).map(fname)
    s.sql("INSERT OVERWRITE graft.snap.ow VALUES (7, 'new'), (8, 'newer')")
    assert(s.sql("SELECT k FROM graft.snap.ow ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(7L, 8L),
      "overwrite must replace the whole snapshot")
    // ONE epoch: 2 appends (0,1) + overwrite = 2
    assert(graft.sources.ManifestSink.newestVersion(log) == 2)
    assert(s.sql("SELECT count(*) FROM graft.snap.ow VERSION AS OF 1")
      .collect().head.getLong(0) == 6,
      "pre-overwrite version must still serve")
    // a stale rewrite planned against the pre-overwrite snapshot loses
    val blocked = intercept[Exception] {
      s.createDataFrame(Seq((1L, "stale"))).toDF("k", "name")
        .write.format("graft.sources.ManifestSink")
        .option("path", log).option("removeFiles", preFiles.head)
        .mode("append").save()
    }
    assert(rootCauses(blocked).exists(
      _.isInstanceOf[graft.sources.ManifestConflictException]), blocked.toString)
    // streaming truncate (complete output) refuses loudly
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val in = MemoryStream[(Long, String)]
    val bad = intercept[Exception] {
      val q = in.toDF().toDF("k", "name")
        .groupBy("k").count()
        .selectExpr("k", "CAST(count AS STRING) AS name")
        .writeStream.outputMode("complete")
        .format("graft.sources.ManifestSink")
        .option("path", log)
        .option("checkpointLocation",
          Files.createTempDirectory("graft_ow_ck").toString)
        .start()
      try { in.addData((1L, "x")); q.processAllAvailable() } finally q.stop()
    }
    assert(rootCauses(bad).exists(c => Option(c.getMessage)
      .exists(_.contains("append output mode"))), bad.toString)
    graft.util.Fs.deleteRecursively(root)
  }

  test("STREAMING WRITE through the catalog face (round 14): " +
    "writeStream.toTable('graft.snap.t') commits micro-batch epochs " +
    "with the per-writer #txn replay protocol, and the SAME catalog " +
    "name serves the batch read back — one name for every face") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = Files.createTempDirectory("graft_snap_stw")
    Files.createDirectories(root.resolve("stw"))
    val ckpt = Files.createTempDirectory("graft_snap_stw_ck").toString
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    s.conf.set("spark.sql.catalog.graft.snap.stw.schema", "k LONG, name STRING")
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    // toTable resolves its catalog through the THREAD-ACTIVE session's
    // conf (SQLConf.get), not the DataFrame's session — activate s so
    // the graft catalog registration is visible to the name lookup
    // (and RESTORE after: a leaked active session makes later tests'
    // catalog lookups read THIS test's confs)
    val prevActive = org.apache.spark.sql.SparkSession.getActiveSession
    org.apache.spark.sql.SparkSession.setActiveSession(s)
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("k", "name")
      .writeStream.option("checkpointLocation", ckpt)
      .toTable("graft.snap.stw")
    try {
      in.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
      in.addData((3L, "c")); q.processAllAvailable()
      assert(s.sql("SELECT k FROM graft.snap.stw ORDER BY k")
        .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
      // each micro-batch is one committed epoch with a #txn record —
      // the idempotence protocol the format face pins rides along here
      val log = root.resolve("stw").toString
      assert(graft.sources.ManifestSink.newestVersion(log) == 1)
    } finally {
      q.stop()
      prevActive match {
        case Some(p) => org.apache.spark.sql.SparkSession.setActiveSession(p)
        case None => org.apache.spark.sql.SparkSession.clearActiveSession()
      }
    }
    graft.util.Fs.deleteRecursively(root)
  }

  test("NULL-COUNT stats (round 14): #stats carry per-column null " +
    "counts — IS NULL prunes zero-null files, IS NOT NULL prunes " +
    "all-null files, and a pre-evolution file (no record for the " +
    "appended column in a null-accounting file) is skipped by BOTH " +
    "IS NOT NULL and value predicates on that column") {
    val root = Files.createTempDirectory("graft_snap_nulls")
    val log = root.resolve("nl").toString
    // epoch 0: PRE-EVOLUTION file (no 'v' column at all)
    Seq((1L, "a"), (2L, "b")).toDF("k", "name").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", log).mode("append").save()
    // epoch 1: v fully populated (0 nulls)
    Seq((10L, "c", 100L), (11L, "d", 110L)).toDF("k", "name", "v").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", log).mode("append").save()
    // epoch 2: v all-null (written under the wide schema)
    Seq((20L, "e"), (21L, "f")).toDF("k", "name")
      .selectExpr("k", "name", "CAST(NULL AS LONG) AS v").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", log).mode("append").save()
    // epoch 3: v mixed (1 null of 2 rows)
    Seq((30L, "g", java.lang.Long.valueOf(300L)), (31L, "h", null.asInstanceOf[java.lang.Long]))
      .toDF("k", "name", "v").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", log).mode("append").save()
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    s.conf.set("spark.sql.catalog.graft.snap.nl.schema",
      "k LONG, name STRING, v LONG")
    def run(pred: String): (Seq[Long], (Int, Int)) = {
      val ks = s.sql(s"SELECT k FROM graft.snap.nl WHERE $pred ORDER BY k")
        .collect().map(_.getLong(0)).toSeq
      (ks, graft.sources.SnapTable.lastPruneOf("nl"))
    }
    // IS NULL: the zero-null file (epoch 1) is pruned; pre-evolution,
    // all-null and mixed files all may hold null v
    assert(run("v IS NULL") == ((Seq(1L, 2L, 20L, 21L, 31L), (4, 3))))
    // IS NOT NULL: pre-evolution AND all-null files pruned
    assert(run("v IS NOT NULL") == ((Seq(10L, 11L, 30L), (4, 2))))
    // a value predicate on v skips the provably-all-null files too:
    // bounds prune the populated epoch-1 file ([100,110] excludes 300)
    // but could never prune the pre-evolution file (it has NO v
    // bounds) — the null accounting does, leaving the ONE true file
    assert(run("v = 300") == ((Seq(30L), (4, 1))))
    graft.util.Fs.deleteRecursively(root)
  }

  test("DDL through the catalog face (round 15): CREATE TABLE writes " +
    "the #schema epoch 0 and the table is self-describing (no conf); " +
    "a duplicate CREATE and a CREATE racing a first append both " +
    "refuse; ALTER ADD COLUMN is a pure-metadata epoch with old files " +
    "null-filling; non-additive ALTERs refuse; DROP removes log+data") {
    val root = Files.createTempDirectory("graft_snap_ddl")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)

    // CREATE + INSERT + read back, schema resolved from the log only
    s.sql("CREATE TABLE graft.snap.t1 (k BIGINT, name STRING)")
    assert(graft.sources.ManifestSink.newestVersion(
      root.resolve("t1").toString) == 0, "epoch 0 IS the create record")
    s.sql("INSERT INTO graft.snap.t1 VALUES (1, 'a'), (2, 'b')")
    assert(s.sql("SELECT k, name FROM graft.snap.t1 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b")))

    // duplicate CREATE refuses; IF NOT EXISTS is a no-op
    intercept[org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException](
      s.sql("CREATE TABLE graft.snap.t1 (other BIGINT)"))
    s.sql("CREATE TABLE IF NOT EXISTS graft.snap.t1 (k BIGINT, name STRING)")
    assert(s.sql("SELECT count(*) FROM graft.snap.t1").head().getLong(0) == 2,
      "IF NOT EXISTS must not touch the existing table")

    // CREATE racing a path-based FIRST APPEND: the append claimed
    // epoch 0 first, so CREATE must refuse rather than share the log
    val raced = root.resolve("t2").toString
    Seq((7L, "x")).toDF("k", "name").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", raced).mode("append").save()
    intercept[org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException](
      s.sql("CREATE TABLE graft.snap.t2 (k BIGINT, name STRING)"))
    assert(s.sql("SELECT count(*) FROM graft.snap.t2").head().getLong(0) == 1,
      "the raced append's data must survive the refused CREATE")

    // ALTER ADD COLUMN: metadata-only epoch; the pre-evolution file
    // null-fills; the evolved insert carries values
    val v1 = graft.sources.ManifestSink.newestVersion(
      root.resolve("t1").toString)
    val filesBefore = graft.sources.ManifestSink.committedFiles(
      root.resolve("t1").toString).sorted
    s.sql("ALTER TABLE graft.snap.t1 ADD COLUMN v BIGINT")
    val v2 = graft.sources.ManifestSink.newestVersion(
      root.resolve("t1").toString)
    assert(v2 == v1 + 1, "ALTER is ONE pure-metadata epoch")
    assert(graft.sources.ManifestSink.committedFiles(
      root.resolve("t1").toString).sorted == filesBefore,
      "no data rewritten by ALTER")
    s.sql("INSERT INTO graft.snap.t1 VALUES (3, 'c', 30)")
    assert(s.sql("SELECT k, v FROM graft.snap.t1 ORDER BY k")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq ==
      Seq((1L, -1L), (2L, -1L), (3L, 30L)))

    // RENAME/DROP COLUMN stopped being refusals in round 16 — column
    // mapping makes each a metadata epoch; exercise both here
    s.sql("ALTER TABLE graft.snap.t1 RENAME COLUMN v TO w")
    assert(s.sql("SELECT sum(w) FROM graft.snap.t1").head().getLong(0) == 30)
    s.sql("ALTER TABLE graft.snap.t1 RENAME COLUMN w TO v")
    intercept[Exception](
      s.sql("ALTER TABLE graft.snap.t1 ADD COLUMN name STRING")) // duplicate
    s.sql("ALTER TABLE graft.snap.t1 DROP COLUMN v")
    assert(s.table("graft.snap.t1").schema.fieldNames.toSeq ==
      Seq("k", "name"), "DROP COLUMN must omit v from the logical schema")
    intercept[Exception](s.sql("SELECT v FROM graft.snap.t1").collect())
    // the dropped PHYSICAL name can never rebind the old bytes
    intercept[Exception](
      s.sql("ALTER TABLE graft.snap.t1 ADD COLUMN v BIGINT"))
    // re-adding the LOGICAL name under a FRESH physical name is safe;
    // pre-drop files serve null for it, never the old v bytes
    intercept[Exception](
      s.sql("ALTER TABLE graft.snap.t1 RENAME COLUMN v TO u")) // gone
    assert(s.sql("SELECT count(*) FROM graft.snap.t1").head().getLong(0) == 3,
      "metadata-only ALTERs changed no data")

    // DROP removes log + data; the name is then creatable again
    s.sql("DROP TABLE graft.snap.t1")
    assert(!Files.exists(root.resolve("t1")), "DROP removes the table dir")
    intercept[Exception](s.sql("SELECT * FROM graft.snap.t1"))
    s.sql("CREATE TABLE graft.snap.t1 (fresh BIGINT)")
    assert(s.sql("SELECT count(*) FROM graft.snap.t1").head().getLong(0) == 0)
    graft.util.Fs.deleteRecursively(root)
  }

  test("PARTITION TRANSFORMS (round 15): identity/days/bucket tuples " +
    "prune file scans BEFORE stats, dynamic partition overwrite " +
    "replaces exactly the written partitions, filtered overwrite " +
    "refuses non-partition predicates, and a COW rewrite keeps #part") {
    val root = Files.createTempDirectory("graft_snap_part")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    import org.apache.spark.sql.functions.col

    // days(ts) + bucket(4, k): one insert, fan-out by tuple
    s.sql("""CREATE TABLE graft.snap.ev (k BIGINT, ts TIMESTAMP, v BIGINT)
            |PARTITIONED BY (days(ts), bucket(4, k))""".stripMargin)
    // day index = (i/4)%4 and bucket = k%4 = i%4 are DECORRELATED, so
    // the 40 rows span all 16 (day, bucket) tuples
    val rows = (0 until 40).map { i =>
      (i.toLong,
        java.sql.Timestamp.valueOf(f"2024-01-${1 + (i / 4) % 4}%02d 10:00:00"),
        i * 10L)
    }
    locally { import s.implicits._
      rows.toDF("k", "ts", "v").repartition(col("ts"), col("k"))
        .writeTo("graft.snap.ev").append() }
    def prune(): (Int, Int) = graft.sources.SnapTable.lastPruneOf("ev")
    // 4 days x 4 buckets = 16 partitions; a one-day predicate plans
    // exactly the 4 bucket files of that day
    assert(s.sql("""SELECT sum(v) FROM graft.snap.ev
                   |WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
                   |  AND ts < TIMESTAMP '2024-01-04 00:00:00'"""
      .stripMargin).head().getLong(0) ==
      rows.filter(_._2.toString.startsWith("2024-01-03")).map(_._3).sum)
    assert(prune() == ((16, 4)), s"day predicate should plan 4 of 16: ${prune()}")
    // a point read on k adds the bucket dimension: 4 days x 1 bucket,
    // then the day tuple of k=5 (day 2024-01-02) alone — but ts isn't
    // constrained, so 4 files (one per day) minus days where bucket
    // file is absent; all 4 days have bucket 1 (k=1,5,...,37 spread)
    s.sql("SELECT v FROM graft.snap.ev WHERE k = 5").collect()
    assert(prune()._2 <= 4, s"bucket predicate should plan <= 4: ${prune()}")

    // identity partitioning + DYNAMIC overwrite
    s.sql("""CREATE TABLE graft.snap.dl (id BIGINT, lang STRING)
            |PARTITIONED BY (lang)""".stripMargin)
    locally { import s.implicits._
      Seq((1L, "de"), (2L, "de"), (3L, "es"), (4L, "fr"))
        .toDF("id", "lang").repartition(col("lang"))
        .writeTo("graft.snap.dl").append() }
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      locally { import s.implicits._
        Seq((30L, "es"), (31L, "es")).toDF("id", "lang")
          .writeTo("graft.snap.dl").overwritePartitions() }
    } finally s.conf.unset("spark.sql.sources.partitionOverwriteMode")
    assert(s.sql("SELECT id FROM graft.snap.dl ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L).filterNot(_ == 3L) ++ Seq(30L, 31L),
      "dynamic overwrite replaces ONLY the es partition")

    // filtered overwrite on a NON-partition column refuses at analysis
    val e = intercept[Exception] {
      import s.implicits._
      Seq((99L, "de")).toDF("id", "lang")
        .writeTo("graft.snap.dl").overwrite(col("id") > 10)
    }
    assert(e.getMessage.toLowerCase.contains("overwrite"), e.getMessage)

    // replaceWhere-style validation: replacement rows OUTSIDE the
    // overwritten partition refuse and publish nothing
    val before = s.sql("SELECT count(*) FROM graft.snap.dl").head().getLong(0)
    val e2 = intercept[Exception] {
      import s.implicits._
      Seq((50L, "zh")).toDF("id", "lang")
        .writeTo("graft.snap.dl").overwrite(col("lang") === "fr")
    }
    assert(s.sql("SELECT count(*) FROM graft.snap.dl").head().getLong(0)
      == before, s"refused overwrite must publish nothing ($e2)")

    // COW delete on a partitioned table: the rewritten survivor file
    // keeps carrying a #part tuple (rewrites preserve the layout)
    s.sql("DELETE FROM graft.snap.dl WHERE id = 1")
    val dl = root.resolve("dl").toString
    val committed = graft.sources.ManifestSink.committedFiles(dl)
      .map(f => Paths.get(f).getFileName.toString)
    val parts = graft.sources.ManifestSink.filePartitions(dl)
    assert(committed.forall(parts.contains),
      s"every committed file keeps a partition tuple after COW: " +
        s"$committed vs ${parts.keySet}")
    assert(s.sql("SELECT id FROM graft.snap.dl ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 4L, 30L, 31L))
    graft.util.Fs.deleteRecursively(root)
  }

  test("MERGE-ON-READ deletes (round 15): a 1-row delete writes O(1) " +
    "bytes (data files untouched, dv file tiny), every read face " +
    "applies the positions, time travel serves pre-dv versions " +
    "undeleted, re-deletes don't re-mark, incremental windows " +
    "crossing a dv epoch refuse, COW updates consume dvs, and " +
    "compaction resolves them") {
    val root = Files.createTempDirectory("graft_snap_dv")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    s.conf.set("spark.sql.catalog.graft.snap.mv.deleteMode", "mor")
    val log = root.resolve("mv").toString
    // two epochs of 100 rows each
    locally { import s.implicits._
      (0L until 100L).map(i => (i, s"v$i")).toDF("k", "name").coalesce(1)
        .write.format("graft.sources.ManifestSink")
        .option("path", log).mode("append").save()
      (100L until 200L).map(i => (i, s"v$i")).toDF("k", "name").coalesce(1)
        .write.format("graft.sources.ManifestSink")
        .option("path", log).mode("append").save() }
    val dataFiles = graft.sources.ManifestSink.committedFiles(log).sorted
    val preDvVersion = graft.sources.ManifestSink.newestVersion(log)

    // 1-row delete: O(1) — the snapshot's data files are UNTOUCHED
    // (same names, same bytes) and the dv file is tiny
    val bytesBefore = dataFiles.map(f => Files.size(Paths.get(f))).sum
    s.sql("DELETE FROM graft.snap.mv WHERE k = 42")
    assert(graft.sources.ManifestSink.committedFiles(log).sorted == dataFiles,
      "a merge-on-read delete must not move data files")
    assert(dataFiles.map(f => Files.size(Paths.get(f))).sum == bytesBefore,
      "a merge-on-read delete must not rewrite data bytes")
    val dvs1 = graft.sources.ManifestSink.deleteVectors(log)
    assert(dvs1.values.flatten.size == 1 && dvs1.values.flatten.head._2 == 1L,
      s"one dv file, one position: $dvs1")
    val dvPath = root.resolve("mv").resolve("data")
      .resolve(dvs1.values.flatten.head._1)
    assert(Files.size(dvPath) < 64,
      s"dv file must be O(deleted rows): ${Files.size(dvPath)} bytes")

    // every read face applies the positions
    assert(s.sql("SELECT count(*) FROM graft.snap.mv").head().getLong(0) == 199)
    assert(s.sql("SELECT sum(k) FROM graft.snap.mv").head().getLong(0) ==
      (0L until 200L).sum - 42L)
    assert(s.sql("SELECT count(*) FROM graft.snap.mv WHERE k = 42")
      .head().getLong(0) == 0, "the deleted row is gone under pushdown")
    assert(s.sql("SELECT count(_file) FROM graft.snap.mv").head().getLong(0)
      == 199, "the metadata-column face applies dvs too")
    // .files metadata table accounts the dv
    val fr = s.sql("SELECT sum(dvs), sum(deleted_rows) FROM " +
      "graft.snap.mv.files").head()
    assert((fr.getLong(0), fr.getLong(1)) == ((1L, 1L)), fr)
    // time travel BEFORE the dv epoch serves the row undeleted
    assert(s.sql(s"SELECT count(*) FROM graft.snap.mv VERSION AS OF " +
      s"$preDvVersion").head().getLong(0) == 200)

    // a second delete over an overlapping predicate does NOT re-mark
    // k=42 (already deleted): positions are disjoint across dv files
    s.sql("DELETE FROM graft.snap.mv WHERE k >= 40 AND k < 45")
    val dvs2 = graft.sources.ManifestSink.deleteVectors(log)
    assert(dvs2.values.flatten.map(_._2).sum == 5L,
      s"42 once + 40,41,43,44: $dvs2")
    assert(s.sql("SELECT count(*) FROM graft.snap.mv").head().getLong(0) == 195)

    // incremental windows crossing the dv epoch refuse loudly
    val inc = intercept[IllegalStateException](
      graft.sources.ManifestSink.committedFilesBetween(log, 0,
        graft.sources.ManifestSink.newestVersion(log)))
    assert(inc.getMessage.contains("retro-deletes") ||
      inc.getMessage.contains("rewrites"), inc.getMessage)

    // a COW UPDATE over the dv'd file must not resurrect deleted rows
    // (the rewrite read excludes positions and consumes the dvs).
    // Round 16: under mor an UPDATE is position-delta, so pin the
    // mode to cow for this statement — the group COW path is what
    // this section exercises
    s.conf.set("spark.sql.catalog.graft.snap.mv.deleteMode", "cow")
    s.sql("UPDATE graft.snap.mv SET name = 'bumped' WHERE k = 50")
    s.conf.set("spark.sql.catalog.graft.snap.mv.deleteMode", "mor")
    assert(s.sql("SELECT count(*) FROM graft.snap.mv").head().getLong(0) == 195,
      "COW rewrite must not resurrect dv-deleted rows")
    assert(s.sql("SELECT name FROM graft.snap.mv WHERE k = 50")
      .head().getString(0) == "bumped")
    // the rewritten file's dvs are resolved (removed with the file)
    val dvs3 = graft.sources.ManifestSink.deleteVectors(log)
    assert(dvs3.values.flatten.map(_._2).sum < 5L,
      s"the rewritten file's dvs must be resolved: $dvs3")

    // compaction resolves the REMAINING dvs: read stays identical,
    // no dv records survive, and the dv files become vacuumable
    s.sql("CALL graft.sys.compact_data('mv', 1000000)")
    assert(graft.sources.ManifestSink.deleteVectors(log).isEmpty,
      "compaction must resolve every live dv")
    assert(s.sql("SELECT count(*) FROM graft.snap.mv").head().getLong(0) == 195)
    assert(s.sql("SELECT sum(k) FROM graft.snap.mv").head().getLong(0) ==
      (0L until 200L).sum - (40L until 45L).sum)

    // conflict fence: a dv epoch targeting a file a rewrite already
    // removed aborts with the retryable conflict
    val gone = dataFiles.head
    val e = intercept[graft.sources.ManifestConflictException](
      graft.sources.ManifestSink.commitDvEpoch(log, "k BIGINT,name STRING",
        Seq((Paths.get(gone).getFileName.toString, "dv-bogus.txt", 1L)), 10))
    assert(e.conflictingFiles.nonEmpty)
    graft.util.Fs.deleteRecursively(root)
  }

  test("STREAMING INGEST into a partitioned snap table (round 15): " +
    "writeStream.toTable fans out per micro-batch, #part tuples land, " +
    "and a day-scoped read prunes the other days' files — the " +
    "canonical events-lake shape end to end") {
    val root = Files.createTempDirectory("graft_snap_streampart")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    // toTable resolves its catalog through the THREAD-ACTIVE session
    // (see the round-14 streaming test) — pin and restore
    val prevActive = org.apache.spark.sql.SparkSession.getActiveSession
    org.apache.spark.sql.SparkSession.setActiveSession(s)
    s.sql("""CREATE TABLE graft.snap.evp (k BIGINT, ts TIMESTAMP)
            |PARTITIONED BY (days(ts))""".stripMargin)
    val srcDir = root.resolve("src"); Files.createDirectories(srcDir)
    def land(day: Int, ks: Seq[Long]): Unit = {
      import s.implicits._
      ks.map(k => (k, java.sql.Timestamp.valueOf(f"2024-02-0$day%d 09:00:00")))
        .toDF("k", "ts").coalesce(1)
        .write.mode("append").parquet(srcDir.toString)
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, ts TIMESTAMP")
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      .writeStream
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .outputMode("append").toTable("graft.snap.evp")
    try {
      land(1, Seq(1L, 2L)); q.processAllAvailable()
      land(2, Seq(10L, 11L)); q.processAllAvailable()
      // one micro-batch spanning TWO days fans out to two files
      locally { import s.implicits._
        Seq((20L, java.sql.Timestamp.valueOf("2024-02-03 09:00:00")),
          (21L, java.sql.Timestamp.valueOf("2024-02-04 09:00:00")))
          .toDF("k", "ts").coalesce(1)
          .write.mode("append").parquet(srcDir.toString) }
      q.processAllAvailable()
    } finally {
      q.stop()
      prevActive match {
        case Some(p) => org.apache.spark.sql.SparkSession.setActiveSession(p)
        case None => org.apache.spark.sql.SparkSession.clearActiveSession()
      }
    }
    val log = root.resolve("evp").toString
    val parts = graft.sources.ManifestSink.filePartitions(log)
    val committed = graft.sources.ManifestSink.committedFiles(log)
      .map(f => Paths.get(f).getFileName.toString)
    assert(committed.forall(parts.contains),
      s"every streamed file must carry a #part tuple: $committed vs $parts")
    assert(parts.values.toSeq.distinct.size == 4,
      s"four distinct day tuples expected: ${parts.values.toSeq.distinct}")
    // the day-scoped read prunes the other days' files
    val got = s.sql("""SELECT k FROM graft.snap.evp
                      |WHERE ts >= TIMESTAMP '2024-02-02 00:00:00'
                      |  AND ts < TIMESTAMP '2024-02-03 00:00:00'
                      |ORDER BY k""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(10L, 11L))
    val (listed, planned) = graft.sources.SnapTable.lastPruneOf("evp")
    assert(listed == committed.size && planned == 1,
      s"day read should plan 1 of $listed: ($listed, $planned)")
    graft.util.Fs.deleteRecursively(root)
  }

  test("MOR-vs-COMPACTION true race (round 15): concurrent merge-on-" +
    "read deletes and a compact_data sweep serialize through the " +
    "claim-time fences — losers retry, nothing double-deletes, " +
    "nothing resurrects, the final row set is exact") {
    val root = Files.createTempDirectory("graft_snap_dvrace")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    s.sql("""CREATE TABLE graft.snap.rc (k BIGINT, v BIGINT)
            |TBLPROPERTIES ('delete.mode'='mor')""".stripMargin)
    locally { import s.implicits._
      (0L until 400L).map(i => (i, i * 3)).toDF("k", "v").repartition(4)
        .writeTo("graft.snap.rc").append() }
    def isConflict(t: Throwable): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .exists(_.isInstanceOf[graft.sources.ManifestConflictException])
    def retrying(sql: String, tries: Int = 6): Unit = {
      var attempt = 0
      var done = false
      while (!done) {
        try { s.sql(sql); done = true }
        catch {
          case t: Throwable if isConflict(t) && attempt < tries =>
            attempt += 1
        }
      }
    }
    // 4 deleter threads over DISJOINT key ranges + 1 compaction thread,
    // all racing over the same 4 data files
    val ranges = Seq((0L, 10L), (100L, 110L), (200L, 210L), (300L, 310L))
    val threads = ranges.map { case (lo, hi) =>
      new Thread(() => retrying(
        s"DELETE FROM graft.snap.rc WHERE k >= $lo AND k < $hi"))
    } :+ new Thread(() => {
      retrying("CALL graft.sys.compact_data('rc', 1000000)")
      retrying("CALL graft.sys.compact_data('rc', 1000000)")
    })
    val errs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    threads.foreach(_.setUncaughtExceptionHandler((_, e) =>
      errs.add(e.toString)))
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"unretried failures: $errs")
    // exact final state: 400 rows minus the 40 deleted, values intact
    val got = s.sql("SELECT k, v FROM graft.snap.rc").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (0L until 400L).filterNot(k =>
      ranges.exists { case (lo, hi) => k >= lo && k < hi })
      .map(k => (k, k * 3)).toSet
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    graft.util.Fs.deleteRecursively(root)
  }

  test("TABLE PROPERTIES (round 15): TBLPROPERTIES at CREATE makes " +
    "delete.mode/compact.interval table attributes (no session conf); " +
    "ALTER TABLE SET TBLPROPERTIES appends a metadata epoch; unknown " +
    "token-safe keys round-trip; the conf still overrides the log") {
    val root = Files.createTempDirectory("graft_snap_props")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    s.sql("""CREATE TABLE graft.snap.pt (k BIGINT, name STRING)
            |TBLPROPERTIES ('delete.mode'='mor', 'team'='graft-lake',
            |  'compact.interval'='50')""".stripMargin)
    s.sql("INSERT INTO graft.snap.pt VALUES (1,'a'), (2,'b'), (3,'c')")
    val log = root.resolve("pt").toString
    val props = graft.sources.ManifestSink.tableProperties(log)
    assert(props.get("delete.mode").contains("mor") &&
      props.get("team").contains("graft-lake") &&
      props.get("compact.interval").contains("50"), props)

    // DELETE honors the PROPERTY: merge-on-read, zero files moved
    val filesBefore = graft.sources.ManifestSink.committedFiles(log).sorted
    s.sql("DELETE FROM graft.snap.pt WHERE k = 2")
    assert(graft.sources.ManifestSink.committedFiles(log).sorted == filesBefore,
      "delete.mode=mor property must make DELETE merge-on-read")
    assert(graft.sources.ManifestSink.deleteVectors(log).nonEmpty)
    assert(s.sql("SELECT count(*) FROM graft.snap.pt").head().getLong(0) == 2)

    // ALTER SET TBLPROPERTIES flips the mode: the next delete is COW
    // (resolves the dv'd file too — consumed-dv fence allows it)
    s.sql("ALTER TABLE graft.snap.pt SET TBLPROPERTIES ('delete.mode'='cow')")
    assert(graft.sources.ManifestSink.tableProperties(log)
      .get("delete.mode").contains("cow"))
    s.sql("DELETE FROM graft.snap.pt WHERE k = 3")
    assert(graft.sources.ManifestSink.committedFiles(log).sorted != filesBefore,
      "delete.mode=cow must rewrite files")
    assert(s.sql("SELECT k FROM graft.snap.pt").collect()
      .map(_.getLong(0)).toSeq == Seq(1L),
      "the COW rewrite must keep the dv-deleted row deleted")

    // session conf OVERRIDES the log property
    s.conf.set("spark.sql.catalog.graft.snap.pt.deleteMode", "mor")
    try {
      val fb = graft.sources.ManifestSink.committedFiles(log).sorted
      s.sql("DELETE FROM graft.snap.pt WHERE k = 1")
      assert(graft.sources.ManifestSink.committedFiles(log).sorted == fb,
        "the session conf must override the log's delete.mode")
    } finally s.conf.unset("spark.sql.catalog.graft.snap.pt.deleteMode")

    // invalid property values refuse at DDL time
    intercept[Exception](s.sql(
      "ALTER TABLE graft.snap.pt SET TBLPROPERTIES ('delete.mode'='x')"))
    intercept[Exception](s.sql(
      "CREATE TABLE graft.snap.badp (k BIGINT) " +
        "TBLPROPERTIES ('compact.interval'='1')"))
    graft.util.Fs.deleteRecursively(root)
  }

  test("FRAGMENT PARSE CACHE (round 15): re-planning an unchanged " +
    "table parses zero fragment bytes; a table dir recreated at the " +
    "same path (same epoch names, different content) serves the NEW " +
    "content — the fileKey guard, never a stale cache hit") {
    val root = Files.createTempDirectory("graft_snap_cache")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    s.sql("CREATE TABLE graft.snap.fc (k BIGINT)")
    s.sql("INSERT INTO graft.snap.fc VALUES (1), (2), (3)")
    def q(): Long =
      s.sql("SELECT sum(k) FROM graft.snap.fc").head().getLong(0)
    assert(q() == 6)
    val before = graft.sources.ManifestSink.fragmentParses.get()
    val beforeDeriv = graft.sources.ManifestSink.planDerivations.get()
    assert(q() == 6) // identical re-plan: every fragment cache-hits
    assert(graft.sources.ManifestSink.fragmentParses.get() == before,
      "re-planning an unchanged table must parse no fragments")
    // round 16: the DERIVED maps (union/stats/parts/dvs/props) are
    // memoized on the fragment fingerprint too — a re-plan walks no
    // lines at all, O(fragments) stat calls only
    assert(graft.sources.ManifestSink.planDerivations.get() == beforeDeriv,
      "re-planning an unchanged table must re-derive no snapshot state")
    // a commit changes the fragment set: the state re-derives once
    s.sql("INSERT INTO graft.snap.fc VALUES (4)")
    assert(q() == 10)
    assert(graft.sources.ManifestSink.planDerivations.get() > beforeDeriv,
      "a new epoch must invalidate the memoized snapshot state")
    // recreate the SAME table path with different content: the cache
    // must not serve the old epochs (fileKey/inode changes on recreate)
    s.sql("DROP TABLE graft.snap.fc")
    s.sql("CREATE TABLE graft.snap.fc (k BIGINT)")
    s.sql("INSERT INTO graft.snap.fc VALUES (10), (20)")
    assert(q() == 30, "recreated table served stale cached fragments")
    graft.util.Fs.deleteRecursively(root)
  }

  test("METADATA TABLES (round 15): graft.snap.t.files serves the " +
    "current snapshot's (file, rows, bytes); .history classifies live " +
    "fragments as metadata/append/rewrite and collapses swept epochs " +
    "into one checkpoint row at the horizon") {
    val root = Files.createTempDirectory("graft_snap_meta")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    s.sql("CREATE TABLE graft.snap.mt (k BIGINT, lang STRING)") // epoch 0
    s.sql("INSERT INTO graft.snap.mt VALUES (1, 'de'), (2, 'de')") // 1
    s.sql("INSERT INTO graft.snap.mt VALUES (10, 'es'), (11, 'es'), (12, 'es')") // 2
    s.sql("DELETE FROM graft.snap.mt WHERE lang = 'de' AND k = 1") // 3: rewrite

    def history(): Seq[(Long, String, Long, Long)] =
      s.sql("SELECT version, kind, n_added, n_removed FROM " +
        "graft.snap.mt.history ORDER BY version").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSeq
    // epoch 1 wrote up to 2 task files, epoch 2 up to 3; pin kinds and
    // remove counts, and that the rewrite epoch removed exactly the
    // files it rewrote
    val h1 = history()
    assert(h1.map(_._2) == Seq("metadata", "append", "append", "rewrite"), h1)
    assert(h1.map(_._1) == Seq(0L, 1L, 2L, 3L), h1)
    assert(h1(3)._4 >= 1, s"the COW delete must report its removes: $h1")

    // .files reflects the post-delete snapshot: total rows = 4 (one
    // deleted), every file has stats rows and on-disk bytes
    val fr = s.sql("SELECT count(*), sum(rows), count(bytes) FROM " +
      "graft.snap.mt.files").head()
    assert(fr.getLong(1) == 4, s"post-delete row total: $fr")
    assert(fr.getLong(2) == fr.getLong(0), s"every file sized: $fr")

    // roll the log past a compaction (interval 10): swept history
    // collapses into ONE checkpoint row; newer epochs stay itemized
    (0 until 9).foreach { i =>
      s.sql(s"INSERT INTO graft.snap.mt VALUES (${100 + i}, 'fr')")
    }
    val h2 = history()
    assert(h2.head._2 == "checkpoint",
      s"horizon row must lead post-compaction history: $h2")
    assert(h2.count(_._2 == "checkpoint") == 1, h2)
    assert(h2.tail.forall(_._2 == "append"), h2)
    // the checkpoint carries the resolved union size at its horizon
    val expectTotal = s.sql("SELECT count(*) FROM graft.snap.mt.files")
      .head().getLong(0)
    assert(h2.head._3 + h2.tail.map(_._3).sum == expectTotal,
      s"checkpoint union + loose adds must equal the snapshot: $h2")
    graft.util.Fs.deleteRecursively(root)
  }

  test("MERGE-ON-READ UPDATE (round 16): a 1-row UPDATE under " +
    "delete.mode=mor writes O(1) bytes — ZERO data files moved, one " +
    "tiny dv + one 1-row replacement file in ONE atomic epoch; every " +
    "read face serves the new value, time travel serves the old one, " +
    "_pos rides every face, and compaction resolves the dv") {
    val root = Files.createTempDirectory("graft_snap_dvu")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    s.conf.set("spark.sql.catalog.graft.snap.mu.deleteMode", "mor")
    val log = root.resolve("mu").toString
    locally { import s.implicits._
      (0L until 100L).map(i => (i, s"v$i")).toDF("k", "name").coalesce(1)
        .write.format("graft.sources.ManifestSink")
        .option("path", log).mode("append").save()
      (100L until 200L).map(i => (i, s"v$i")).toDF("k", "name").coalesce(1)
        .write.format("graft.sources.ManifestSink")
        .option("path", log).mode("append").save() }
    val dataFiles = graft.sources.ManifestSink.committedFiles(log).sorted
    val bytesBefore = dataFiles.map(f => Files.size(Paths.get(f))).sum
    val preVersion = graft.sources.ManifestSink.newestVersion(log)

    // _pos metadata column rides batch reads: ordinals are physical
    val posRow = s.sql(
      "SELECT _pos, k FROM graft.snap.mu WHERE k = 142").head()
    assert(posRow.getLong(0) == 42L && posRow.getLong(1) == 142L,
      s"k=142 is ordinal 42 of its file: $posRow")

    s.sql("UPDATE graft.snap.mu SET name = 'patched' WHERE k = 42")

    // the original data files are untouched — byte-identical
    val after = graft.sources.ManifestSink.committedFiles(log).sorted
    assert(dataFiles.forall(after.contains),
      "a merge-on-read update must keep every original data file")
    assert(dataFiles.map(f => Files.size(Paths.get(f))).sum == bytesBefore,
      "a merge-on-read update must not rewrite data bytes")
    // exactly one appended replacement file, one dv with one position
    val added = after.filterNot(dataFiles.contains)
    assert(added.size == 1, s"one replacement file expected: $added")
    val dvs = graft.sources.ManifestSink.deleteVectors(log)
    assert(dvs.values.flatten.size == 1 &&
      dvs.values.flatten.head._2 == 1L, s"one dv, one position: $dvs")
    val stats = graft.sources.ManifestSink.fileStats(log)
    assert(stats(Paths.get(added.head).getFileName.toString).rows == 1L,
      "the replacement file holds exactly the one updated row")
    // ONE epoch carried both (dv + add): exactly one commit landed
    assert(graft.sources.ManifestSink.newestVersion(log) == preVersion + 1,
      "dv + replacement must flip in one atomic epoch")

    // every read face serves the new value, exactly once
    assert(s.sql("SELECT count(*) FROM graft.snap.mu").head().getLong(0) == 200)
    assert(s.sql("SELECT name FROM graft.snap.mu WHERE k = 42")
      .collect().map(_.getString(0)).toSeq == Seq("patched"))
    assert(s.sql("SELECT count(*) FROM graft.snap.mu WHERE name = 'v42'")
      .head().getLong(0) == 0)
    // time travel: the pre-update version serves the old value
    assert(s.sql(s"SELECT name FROM graft.snap.mu VERSION AS OF $preVersion " +
      "WHERE k = 42").collect().map(_.getString(0)).toSeq == Seq("v42"))

    // a second update re-targets the REPLACEMENT row (its new file),
    // never the dv-marked original position
    s.sql("UPDATE graft.snap.mu SET name = 'patched2' WHERE k = 42")
    assert(s.sql("SELECT name FROM graft.snap.mu WHERE k = 42")
      .collect().map(_.getString(0)).toSeq == Seq("patched2"))
    assert(s.sql("SELECT count(*) FROM graft.snap.mu").head().getLong(0) == 200)

    // compaction resolves dvs; values unchanged, delegate path returns
    s.sql("CALL graft.sys.compact_data('mu', 1000000)")
    assert(graft.sources.ManifestSink.deleteVectors(log).isEmpty,
      "compaction must resolve the dvs")
    assert(s.sql("SELECT name FROM graft.snap.mu WHERE k = 42")
      .collect().map(_.getString(0)).toSeq == Seq("patched2"))
    assert(s.sql("SELECT count(*) FROM graft.snap.mu").head().getLong(0) == 200)
    graft.util.Fs.deleteRecursively(root)
  }

  test("MERGE-ON-READ MERGE (round 16): an upsert under " +
    "delete.mode=mor marks matched positions in dv files and appends " +
    "replacement + inserted rows in ONE epoch; values match the COW " +
    "merge exactly; a partitioned mor table fans inserts out with " +
    "#part tuples") {
    val root = Files.createTempDirectory("graft_snap_dvm")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    s.conf.set("spark.sql.catalog.graft.snap.mm.deleteMode", "mor")
    val log = root.resolve("mm").toString
    locally { import s.implicits._
      (0L until 100L).map(i => (i, s"v$i")).toDF("k", "name").coalesce(1)
        .write.format("graft.sources.ManifestSink")
        .option("path", log).mode("append").save()
      (100L until 200L).map(i => (i, s"v$i")).toDF("k", "name").coalesce(1)
        .write.format("graft.sources.ManifestSink")
        .option("path", log).mode("append").save()
      Seq((42L, "up42"), (142L, "up142"), (9000L, "new9000"))
        .toDF("k", "name").createOrReplaceTempView("mm_src") }
    val dataFiles = graft.sources.ManifestSink.committedFiles(log).sorted
    val preVersion = graft.sources.ManifestSink.newestVersion(log)

    s.sql("""MERGE INTO graft.snap.mm t USING mm_src s ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

    // original files untouched; both touched files got a 1-position dv
    val after = graft.sources.ManifestSink.committedFiles(log).sorted
    assert(dataFiles.forall(after.contains),
      "a merge-on-read MERGE must keep every original data file")
    val dvs = graft.sources.ManifestSink.deleteVectors(log)
    assert(dvs.size == 2 && dvs.values.flatten.map(_._2).sum == 2L,
      s"each matched file carries one 1-position dv: $dvs")
    assert(graft.sources.ManifestSink.newestVersion(log) == preVersion + 1,
      "dvs + appends must flip in one atomic epoch")

    // values: 200 originals with two updated + one inserted
    assert(s.sql("SELECT count(*) FROM graft.snap.mm").head().getLong(0) == 201)
    assert(s.sql("SELECT name FROM graft.snap.mm WHERE k IN (42, 142, 9000) " +
      "ORDER BY k").collect().map(_.getString(0)).toSeq ==
      Seq("up42", "up142", "new9000"))
    assert(s.sql("SELECT count(*) FROM graft.snap.mm WHERE name IN " +
      "('v42', 'v142')").head().getLong(0) == 0)

    // the same merge on a COW twin produces the SAME table values —
    // storage strategy is value-invisible
    s.conf.set("spark.sql.catalog.graft.snap.mc.deleteMode", "cow")
    val clog = root.resolve("mc").toString
    locally { import s.implicits._
      (0L until 100L).map(i => (i, s"v$i")).toDF("k", "name").coalesce(1)
        .write.format("graft.sources.ManifestSink")
        .option("path", clog).mode("append").save()
      (100L until 200L).map(i => (i, s"v$i")).toDF("k", "name").coalesce(1)
        .write.format("graft.sources.ManifestSink")
        .option("path", clog).mode("append").save() }
    s.sql("""MERGE INTO graft.snap.mc t USING mm_src s ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val morRows = s.sql("SELECT k, name FROM graft.snap.mm ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val cowRows = s.sql("SELECT k, name FROM graft.snap.mc ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(morRows == cowRows, "mor and cow merges must agree")

    // PARTITIONED mor table: inserted rows fan out and carry #part
    s.sql("""CREATE TABLE graft.snap.mp (k BIGINT, lang STRING)
            |PARTITIONED BY (lang)
            |TBLPROPERTIES ('delete.mode'='mor')""".stripMargin)
    s.sql("INSERT INTO graft.snap.mp VALUES (1, 'en'), (2, 'fr')")
    locally { import s.implicits._
      Seq((1L, "en"), (3L, "de")).toDF("k", "lang")
        .createOrReplaceTempView("mp_src") }
    s.sql("""MERGE INTO graft.snap.mp t USING mp_src s ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val plog = root.resolve("mp").toString
    val parts = graft.sources.ManifestSink.filePartitions(plog)
    val committed = graft.sources.ManifestSink.committedFiles(plog)
      .map(f => Paths.get(f).getFileName.toString)
    assert(committed.forall(parts.contains),
      s"every committed file (incl. merge inserts) carries a #part " +
        s"tuple: $committed vs ${parts.keySet}")
    assert(s.sql("SELECT k FROM graft.snap.mp WHERE lang = 'de'")
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    assert(s.sql("SELECT count(*) FROM graft.snap.mp").head().getLong(0) == 3)
    graft.util.Fs.deleteRecursively(root)
  }

  test("MOR UPDATE races (round 16): concurrent delta updates on ONE " +
    "file are fenced — losers get a retryable conflict, retries land, " +
    "positions never overlap (deleted_rows exact); an update racing a " +
    "compaction that removed its target aborts cleanly") {
    val root = Files.createTempDirectory("graft_snap_dvrace")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    s.conf.set("spark.sql.catalog.graft.snap.rr.deleteMode", "mor")
    val log = root.resolve("rr").toString
    locally { import s.implicits._
      (0L until 100L).map(i => (i, s"v$i")).toDF("k", "name").coalesce(1)
        .write.format("graft.sources.ManifestSink")
        .option("path", log).mode("append").save() }

    // 4 threads, each updates a DIFFERENT key of the SAME file: every
    // loser must surface ManifestConflictException (retryable), never
    // publish, and the retry must land against the refreshed dv state
    val keys = Seq(11L, 23L, 47L, 71L)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = keys.map { k =>
      new Thread(() => {
        var attempts = 0
        var done = false
        while (!done && attempts < 12) {
          attempts += 1
          try {
            s.sql(s"UPDATE graft.snap.rr SET name = 'u$k' WHERE k = $k")
            done = true
          } catch {
            case e: Throwable =>
              val conflict = {
                var c: Throwable = e
                while (c != null &&
                  !c.isInstanceOf[graft.sources.ManifestConflictException])
                  c = c.getCause
                c != null
              }
              if (!conflict) { errors.add(e); done = true }
          }
        }
        if (!done) errors.add(new IllegalStateException(
          s"update of k=$k never landed in $attempts attempts"))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"non-conflict failures: ${errors}")
    // all four landed, exactly once each, positions never overlapped
    assert(s.sql("SELECT count(*) FROM graft.snap.rr").head().getLong(0) == 100)
    assert(s.sql(s"SELECT name FROM graft.snap.rr WHERE k IN " +
      s"(${keys.mkString(",")}) ORDER BY k").collect()
      .map(_.getString(0)).toSeq == keys.map(k => s"u$k"),
      "every racer's update must be applied")
    val dvTotal = s.sql(
      "SELECT sum(deleted_rows) FROM graft.snap.rr.files").head().getLong(0)
    assert(dvTotal == keys.size.toLong,
      s"deleted_rows must count each replaced position EXACTLY once " +
        s"(no overlap overcount): $dvTotal")

    // update-vs-compaction: a delta commit whose target file was
    // removed by a compaction that landed first must abort (liveness
    // fence) — exercised at the commit layer for determinism
    val victim = graft.sources.ManifestSink.committedFiles(log)
      .map(f => Paths.get(f).getFileName.toString).head
    s.sql("CALL graft.sys.compact_data('rr', 1000000)") // removes victim
    val ex = intercept[graft.sources.ManifestConflictException] {
      graft.sources.ManifestSink.commitDeltaEpoch(log, "k BIGINT, name STRING",
        Seq((victim, "dv-stale0000000000.txt", 1L)), Seq.empty, 10, Map.empty)
    }
    assert(ex.conflictingFiles.contains(victim), ex.getMessage)

    // dv-vs-dv at the commit layer: an epoch computed against a stale
    // (empty) observed state while a dv already lives on the target
    s.sql("DELETE FROM graft.snap.rr WHERE k = 5") // mor: lands a dv
    val target = graft.sources.ManifestSink.deleteVectors(log).keys.head
    val ex2 = intercept[graft.sources.ManifestConflictException] {
      graft.sources.ManifestSink.commitDeltaEpoch(log, "k BIGINT, name STRING",
        Seq((target, "dv-stale0000000001.txt", 1L)), Seq.empty, 10,
        Map(target -> Set.empty[String]))
    }
    assert(ex2.conflictingFiles.exists(_.startsWith(s"$target#")),
      ex2.getMessage)
    graft.util.Fs.deleteRecursively(root)
  }

  test("DV FAN-IN guards (round 16): the dv position relation reads " +
    "through ONE multi-path scan (plan width flat in dv-file count), " +
    "the anti-join broadcasts under the position cap and SHUFFLES " +
    "above it (same values either way), and compaction resolves a " +
    "heavily-dv'd table back to the delegate path") {
    val root = Files.createTempDirectory("graft_snap_dvfan")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    s.conf.set("spark.sql.catalog.graft.snap.fan.deleteMode", "mor")
    val log = root.resolve("fan").toString
    locally { import s.implicits._
      (0L until 200L).map(i => (i, s"v$i")).toDF("k", "name").coalesce(2)
        .write.format("graft.sources.ManifestSink")
        .option("path", log).mode("append").save() }
    // accumulate MANY dv files: 8 single-row deletes → 8+ dv files
    (0 until 8).foreach(i => s.sql(
      s"DELETE FROM graft.snap.fan WHERE k = ${i * 13 + 1}"))
    val dvMap = graft.sources.ManifestSink.deleteVectors(log)
    val nDvFiles = dvMap.values.flatten.size
    assert(nDvFiles >= 8, s"expected many dv files: $dvMap")
    val files = graft.sources.ManifestSink.committedFiles(log)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, name STRING")

    // ONE multi-path scan: the position relation's plan holds exactly
    // one text file-scan node regardless of dv-file count
    val pos = graft.sources.DvOps.dvPositions(s, log, files, dvMap).get
    val posPlan = pos.queryExecution.executedPlan.toString
    assert("(?i)scan text".r.findAllIn(posPlan).size == 1,
      s"dv positions must read through ONE multi-path scan:\n$posPlan")
    assert(pos.count() == 8L)

    // under the cap: an UNCONDITIONAL broadcast hint on the anti-join;
    // above it: no hint — AQE then sizes the join from runtime stats
    // (it may still broadcast a genuinely tiny side, which is the
    // point: the cap removes the unbounded FORCED broadcast, it does
    // not forbid an informed one). Values identical either way.
    def survivors(): (String, Seq[Long]) = {
      val df = graft.sources.DvOps.readExcludingDeleted(s, schema, log,
        files, Some(dvMap))
      (df.queryExecution.optimizedPlan.toString,
        df.select("k").collect().map(_.getLong(0)).sorted.toSeq)
    }
    // the dv-name → data-file map join stays broadcast either way
    // (bounded by dv-FILE count, the manifest class) — the flip under
    // test is the hint on the POSITION anti-join itself
    def antiHint(plan: String): Boolean = plan.linesIterator
      .find(_.toLowerCase.contains("join leftanti"))
      .exists(_.toLowerCase.contains("broadcast"))
    val (planB, rowsB) = survivors()
    assert(antiHint(planB),
      s"under the cap the anti-join must carry the broadcast hint:\n$planB")
    s.conf.set("spark.graft.dv.broadcastPositionCap", "0")
    val (planS, rowsS) = try survivors()
      finally s.conf.unset("spark.graft.dv.broadcastPositionCap")
    assert(!antiHint(planS),
      s"above the cap the anti-join must carry no forced broadcast " +
        s"hint:\n$planS")
    val expect = (0L until 200L).filterNot(k =>
      (0 until 8).exists(i => k == i * 13 + 1))
    assert(rowsB == expect && rowsS == rowsB,
      "plan choice must be value-invisible")

    // compaction resolves the dv pile-up
    s.sql("CALL graft.sys.compact_data('fan', 1000000)")
    assert(graft.sources.ManifestSink.deleteVectors(log).isEmpty)
    assert(s.sql("SELECT count(*) FROM graft.snap.fan").head().getLong(0)
      == 192)
    graft.util.Fs.deleteRecursively(root)
  }

  test("PLANNING CHECKPOINT (round 16): compaction writes a parquet " +
    "checkpoint + meta sidecar; the distributed planner (a Spark job " +
    "over the checkpoint + the driver-side tail) plans IDENTICAL file " +
    "sets and values as the driver walk — across stats pruning, " +
    "partition pruning, tail adds/removes, and dvs both in the tail " +
    "and folded into the checkpoint; old checkpoints are swept") {
    val root = Files.createTempDirectory("graft_snap_ckpt")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    val log = root.resolve("ckp").toString
    s.sql("""CREATE TABLE graft.snap.ckp (k BIGINT, lang STRING)
            |PARTITIONED BY (lang)
            |TBLPROPERTIES ('compact.interval'='4',
            |  'delete.mode'='mor')""".stripMargin)
    // six 1-partition epochs: interval 4 → a compact (+ checkpoint)
    // lands mid-stream, the rest stay loose as the tail
    (1 to 6).foreach { i =>
      s.sql(s"INSERT INTO graft.snap.ckp VALUES " +
        s"(${i * 100}, 'l$i'), (${i * 100 + 1}, 'l$i')")
    }
    def ckptFiles(): Seq[String] = {
      val st = Files.list(root.resolve("ckp"))
      try st.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("checkpoint-")).toSeq.sorted
      finally st.close()
    }
    assert(ckptFiles().size == 2, s"parquet + meta expected: ${ckptFiles()}")
    // the meta sidecar serves resolution without the compact text
    assert(graft.sources.ManifestSink.tableProperties(log)
      .get("delete.mode").contains("mor"))

    // tail traffic on top of the checkpoint: a mor delete (tail dv on
    // a CHECKPOINTED file) and a cow delete (tail REMOVE of one)
    s.sql("DELETE FROM graft.snap.ckp WHERE k = 101") // dv, mor mode
    s.conf.set("spark.sql.catalog.graft.snap.ckp.deleteMode", "cow")
    s.sql("DELETE FROM graft.snap.ckp WHERE lang = 'l2'") // remove
    s.conf.unset("spark.sql.catalog.graft.snap.ckp.deleteMode")

    // both planners, three query shapes, value + prune-count equality
    def round(): Seq[(Seq[(Long, String)], (Int, Int))] = {
      def q(sql: String): (Seq[(Long, String)], (Int, Int)) = {
        val rows = s.sql(sql).collect()
          .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
        (rows, graft.sources.SnapTable.lastPruneOf("ckp"))
      }
      Seq(
        q("SELECT k, lang FROM graft.snap.ckp"),
        q("SELECT k, lang FROM graft.snap.ckp WHERE k = 300"),
        q("SELECT k, lang FROM graft.snap.ckp WHERE lang = 'l4'"))
    }
    val eager = round()
    s.conf.set("spark.graft.plan.distributedThreshold", "0")
    val dist = try round()
      finally s.conf.unset("spark.graft.plan.distributedThreshold")
    assert(eager == dist,
      s"planners must agree exactly:\neager=$eager\ndist =$dist")
    assert(eager.head._1.map(_._1) ==
      Seq(100L, 300L, 301L, 400L, 401L, 500L, 501L, 600L, 601L),
      s"l2 (200, 201) removed, 101 dv-deleted: ${eager.head._1}")
    assert(eager(1)._2._2 < eager(1)._2._1,
      s"the point read must prune: ${eager(1)._2}")
    assert(eager(2)._2._2 < eager(2)._2._1,
      s"the partition read must prune: ${eager(2)._2}")

    // more epochs → the NEXT compaction folds the dv + remove into a
    // fresh checkpoint (dv now lives in checkpoint ROWS) and sweeps
    // the old pair
    (7 to 11).foreach { i =>
      s.sql(s"INSERT INTO graft.snap.ckp VALUES (${i * 100}, 'l$i')")
    }
    val cf = ckptFiles()
    assert(cf.size == 2 &&
      cf.map(_.stripPrefix("checkpoint-").takeWhile(_ != '.')).distinct.size == 1,
      s"exactly one checkpoint pair survives the sweep: $cf")
    val eager2 = round()
    s.conf.set("spark.graft.plan.distributedThreshold", "0")
    val dist2 = try round()
      finally s.conf.unset("spark.graft.plan.distributedThreshold")
    assert(eager2 == dist2,
      s"planners must agree after the fold:\neager=$eager2\ndist =$dist2")
    assert(!eager2.head._1.exists(r => r._1 == 101L || r._2 == "l2"),
      "the folded dv and remove must stay applied")
    graft.util.Fs.deleteRecursively(root)
  }

  test("RENAME TABLE (round 16): ALTER TABLE … RENAME TO moves the " +
    "log atomically (stage→promote); the old name is tombstoned — " +
    "reads/writes refuse naming the new table, SHOW TABLES hides it, " +
    "DROP reclaims it; a writer racing the rename gets a clean " +
    "refusal at claim time, never a split log") {
    val root = Files.createTempDirectory("graft_snap_rename")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    s.sql("CREATE TABLE graft.snap.rn1 (k BIGINT, name STRING)")
    s.sql("INSERT INTO graft.snap.rn1 VALUES (1, 'a'), (2, 'b')")

    s.sql("ALTER TABLE graft.snap.rn1 RENAME TO rn2")
    // the new name serves everything (reads, history, writes)
    assert(s.sql("SELECT sum(k) FROM graft.snap.rn2").head().getLong(0) == 3)
    s.sql("INSERT INTO graft.snap.rn2 VALUES (3, 'c')")
    assert(s.sql("SELECT count(*) FROM graft.snap.rn2").head().getLong(0) == 3)
    // the old name refuses with the new name spelled out, and is
    // hidden from the listing
    val e1 = intercept[Exception](s.sql("SELECT * FROM graft.snap.rn1").collect())
    assert(e1.getMessage.contains("renamed") || e1.getMessage.contains("rn2"),
      e1.getMessage)
    val listed = s.sql("SHOW TABLES IN graft.snap").collect()
      .map(_.getString(1)).toSet
    assert(listed.contains("rn2") && !listed.contains("rn1"), listed)

    // claim-time fence: a PATH-based writer that resolved the old
    // directory before the rename (no catalog load to save it) aborts
    // cleanly at its commit claim — the log can never split
    locally { import s.implicits._
      val stale = Files.createDirectories(root.resolve("rn1")) // tombstone
      assert(Files.exists(stale.resolve(".renamed-to")))
      val err = intercept[Exception] {
        Seq((9L, "z")).toDF("k", "name").coalesce(1)
          .write.format("graft.sources.ManifestSink")
          .option("path", stale.toString).mode("append").save()
      }
      def chain(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(_.getMessage).toSeq
      assert(chain(err).exists(m => m != null && m.contains("was renamed to")),
        s"claim must refuse under the tombstone: ${chain(err)}")
    }
    // nothing leaked into the tombstone's log
    assert(graft.sources.ManifestSink.committedFiles(
      root.resolve("rn1").toString).isEmpty)

    // rename onto an EXISTING name refuses; renaming a tombstone
    // refuses as no-such-table
    s.sql("CREATE TABLE graft.snap.rn3 (k BIGINT, name STRING)")
    intercept[Exception](s.sql("ALTER TABLE graft.snap.rn3 RENAME TO rn2"))
    intercept[Exception](s.sql("ALTER TABLE graft.snap.rn1 RENAME TO rn4"))

    // stage→promote: CTAS a staging table, drop prod, promote
    s.sql("CREATE TABLE graft.snap.stage AS " +
      "SELECT k * 10 AS k, name FROM graft.snap.rn2")
    s.sql("DROP TABLE graft.snap.rn2")
    s.sql("ALTER TABLE graft.snap.stage RENAME TO rn2")
    assert(s.sql("SELECT sum(k) FROM graft.snap.rn2").head().getLong(0) == 60)
    // DROP reclaims the tombstone
    assert(s.sql("DROP TABLE graft.snap.rn1") != null)
    assert(!Files.exists(root.resolve("rn1")))
    graft.util.Fs.deleteRecursively(root)
  }

  test("RENAME COLUMN (round 16, column mapping): a pure-metadata " +
    "#colmap epoch — zero bytes rewritten, old files serve under the " +
    "new name, stats AND partition pruning stay exact on renamed " +
    "columns, inserts/updates/mor-deletes speak the new names, " +
    "compaction + the checkpoint planner carry the mapping, and " +
    "collisions refuse") {
    val root = Files.createTempDirectory("graft_snap_colmap")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    val log = root.resolve("cm").toString
    s.sql("""CREATE TABLE graft.snap.cm (k BIGINT, lang STRING, n BIGINT)
            |PARTITIONED BY (lang)""".stripMargin)
    (1 to 4).foreach { i =>
      s.sql(s"INSERT INTO graft.snap.cm VALUES " +
        s"(${i * 100}, 'l$i', ${i * 10}), (${i * 100 + 5}, 'l$i', ${i * 10 + 1})")
    }
    val dataFiles = graft.sources.ManifestSink.committedFiles(log).sorted
    val bytesBefore = dataFiles.map(f => Files.size(Paths.get(f))).sum

    // THE rename: one metadata epoch, nothing rewritten
    val preVersion = graft.sources.ManifestSink.newestVersion(log)
    s.sql("ALTER TABLE graft.snap.cm RENAME COLUMN n TO chars")
    s.sql("ALTER TABLE graft.snap.cm RENAME COLUMN k TO id")
    assert(graft.sources.ManifestSink.committedFiles(log).sorted == dataFiles
      && dataFiles.map(f => Files.size(Paths.get(f))).sum == bytesBefore,
      "a column rename must not touch a data byte")
    assert(graft.sources.ManifestSink.newestVersion(log) == preVersion + 2)

    // the logical schema serves; the old name is gone
    assert(s.table("graft.snap.cm").schema.fieldNames.toSeq ==
      Seq("id", "lang", "chars"))
    assert(s.sql("SELECT sum(chars) FROM graft.snap.cm").head().getLong(0) ==
      (1 to 4).map(i => 2 * i * 10 + 1).sum)
    intercept[Exception](s.sql("SELECT n FROM graft.snap.cm").collect())

    // stats pruning stays EXACT on the renamed long column: the
    // #stats keys are physical, the filter translates on the way in
    val one = s.sql("SELECT id FROM graft.snap.cm WHERE id = 305").collect()
    assert(one.map(_.getLong(0)).toSeq == Seq(305L))
    val (listed, planned) = graft.sources.SnapTable.lastPruneOf("cm")
    assert(planned < listed && planned == 1,
      s"stats pruning must survive the rename: planned $planned of $listed")

    // partition pruning survives renaming the PARTITION column
    s.sql("ALTER TABLE graft.snap.cm RENAME COLUMN lang TO language")
    assert(s.sql("SELECT id FROM graft.snap.cm WHERE language = 'l2'")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(200L, 205L))
    val (l2, p2) = graft.sources.SnapTable.lastPruneOf("cm")
    assert(p2 < l2 && p2 <= 2, // only the l2 partition's files plan
      s"partition pruning must survive the rename: planned $p2 of $l2")

    // writes speak the NEW names; the files land under the PHYSICAL
    // ones (uniform with every pre-rename file) and carry #part
    s.sql("INSERT INTO graft.snap.cm VALUES (500, 'l5', 50)")
    val newFile = graft.sources.ManifestSink.committedFiles(log)
      .filterNot(dataFiles.contains).head
    val newName = Paths.get(newFile).getFileName.toString
    assert(graft.sources.ManifestSink.fileStats(log)(newName)
      .cols.keySet == Set("k", "n"),
      "new files must keep the PHYSICAL stats keys")
    assert(graft.sources.ManifestSink.filePartitions(log).contains(newName))
    assert(s.sql("SELECT chars FROM graft.snap.cm WHERE id = 500")
      .head().getLong(0) == 50)

    // row-level ops under the new names: COW update, then a MOR delete
    s.sql("UPDATE graft.snap.cm SET chars = chars + 1000 WHERE id = 100")
    assert(s.sql("SELECT chars FROM graft.snap.cm WHERE id = 100")
      .head().getLong(0) == 1010)
    s.conf.set("spark.sql.catalog.graft.snap.cm.deleteMode", "mor")
    s.sql("DELETE FROM graft.snap.cm WHERE id = 205")
    s.conf.unset("spark.sql.catalog.graft.snap.cm.deleteMode")
    assert(graft.sources.ManifestSink.deleteVectors(log).nonEmpty)
    assert(s.sql("SELECT count(*) FROM graft.snap.cm").head().getLong(0) == 8)

    // compaction carries the mapping (and resolves the dv); the
    // checkpoint planner agrees with the driver walk post-rename
    s.sql("CALL graft.sys.compact_data('cm', 1000000, 'id')")
    assert(graft.sources.ManifestSink.deleteVectors(log).isEmpty)
    assert(s.table("graft.snap.cm").schema.fieldNames.toSeq ==
      Seq("id", "language", "chars"),
      "the mapping must survive compaction")
    def agg(): Seq[(String, Long)] =
      s.sql("SELECT language, sum(chars) AS sc FROM graft.snap.cm " +
        "WHERE id >= 200 GROUP BY language ORDER BY language").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
    val eager = agg()
    s.conf.set("spark.graft.plan.distributedThreshold", "0")
    val dist = try agg()
      finally s.conf.unset("spark.graft.plan.distributedThreshold")
    assert(eager == dist && eager.nonEmpty,
      s"planners must agree under the mapping: $eager vs $dist")

    // collisions and bad names refuse; rename-back restores identity
    intercept[Exception](
      s.sql("ALTER TABLE graft.snap.cm RENAME COLUMN chars TO id"))
    intercept[Exception](
      s.sql("ALTER TABLE graft.snap.cm RENAME COLUMN missing TO x"))
    intercept[Exception](
      s.sql("ALTER TABLE graft.snap.cm RENAME COLUMN chars TO `bad name`"))
    s.sql("ALTER TABLE graft.snap.cm RENAME COLUMN chars TO n")
    assert(graft.sources.ManifestSink.columnMapping(log).get("n").isEmpty,
      "renaming back to the physical name must restore identity mapping")
    assert(s.sql("SELECT sum(n) FROM graft.snap.cm").head().getLong(0) > 0)

    // DROP COLUMN lifecycle (round 16): a tombstone, zero bytes moved
    val preDrop = graft.sources.ManifestSink.committedFiles(log).sorted
    val preDropBytes = preDrop.map(f => Files.size(Paths.get(f))).sum
    s.sql("ALTER TABLE graft.snap.cm DROP COLUMN n")
    assert(graft.sources.ManifestSink.committedFiles(log).sorted == preDrop
      && preDrop.map(f => Files.size(Paths.get(f))).sum == preDropBytes,
      "a column drop must not touch a data byte")
    assert(s.table("graft.snap.cm").schema.fieldNames.toSeq ==
      Seq("id", "language"), "the logical schema omits the dropped column")
    intercept[Exception](s.sql("SELECT n FROM graft.snap.cm").collect())
    assert(s.sql("SELECT count(*) FROM graft.snap.cm").head().getLong(0) == 8)
    // writes post-drop: the new file simply lacks the physical column
    s.sql("INSERT INTO graft.snap.cm VALUES (600, 'l6')")
    assert(s.sql("SELECT id FROM graft.snap.cm WHERE language = 'l6'")
      .head().getLong(0) == 600)
    // the dropped PHYSICAL name can never rebind old bytes; a FRESH
    // logical name with the same spelling is refused too (it would
    // collide with the recorded physical) — and a different name works
    intercept[Exception](
      s.sql("ALTER TABLE graft.snap.cm ADD COLUMN n BIGINT"))
    s.sql("ALTER TABLE graft.snap.cm ADD COLUMN score BIGINT")
    assert(s.sql("SELECT sum(score) FROM graft.snap.cm").head().isNullAt(0),
      "pre-add files serve null for the new column, never old bytes")
    // dropping a partition column, or the last column, refuses
    intercept[Exception](
      s.sql("ALTER TABLE graft.snap.cm DROP COLUMN language"))
    // the mapping (rename + tombstone) survives compaction
    s.sql("CALL graft.sys.compact_data('cm', 1000000)")
    assert(s.table("graft.snap.cm").schema.fieldNames.toSeq ==
      Seq("id", "language", "score"))
    assert(s.sql("SELECT count(*) FROM graft.snap.cm").head().getLong(0) == 9)
    graft.util.Fs.deleteRecursively(root)
  }

  test("PARTITION-SPEC EVOLUTION (round 16): set_partition_spec appends " +
    "one metadata epoch, files prune under the spec they were written " +
    "under, dynamic overwrite refuses on mixed specs until compaction " +
    "migrates, replaceWhere stays decidable on identity-in-both-eras " +
    "columns, and racing evolutions serialize on distinct ids") {
    val root = Files.createTempDirectory("graft_spec_evolve")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    import org.apache.spark.sql.functions.col

    // era 0: identity(lang) — two files (de, es), each spanning 2 days
    s.sql("""CREATE TABLE graft.snap.se (k BIGINT, ts TIMESTAMP, lang STRING)
            |PARTITIONED BY (lang)""".stripMargin)
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-0$d%d 10:00:00")
    locally { import s.implicits._
      Seq((1L, ts(1), "de"), (2L, ts(2), "de"), (3L, ts(1), "es"),
        (4L, ts(2), "es")).toDF("k", "ts", "lang")
        .repartition(col("lang")).writeTo("graft.snap.se").append() }
    val log = root.resolve("se").toString
    val preEvolveVersion = graft.sources.ManifestSink.newestVersion(log)

    // evolve: ONE metadata epoch, spec id 1, zero data files moved
    val filesBefore = graft.sources.ManifestSink.committedFiles(log).toSet
    val evolved = s.sql(
      "CALL graft.sys.set_partition_spec('se', 'days(ts)')").collect()
    assert(evolved.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "days:ts")), "claimed spec id 1")
    assert(graft.sources.ManifestSink.committedFiles(log).toSet == filesBefore,
      "spec evolution moves zero data files")
    val book = graft.sources.ManifestSink.partitionSpecs(log)
    assert(book.currentId == 1 && book.byId.keySet == Set(0, 1))

    // era 1: days(ts) — two files (day 1, day 2), each spanning langs
    locally { import s.implicits._
      Seq((5L, ts(1), "de"), (6L, ts(1), "es"), (7L, ts(2), "de"),
        (8L, ts(2), "es")).toDF("k", "ts", "lang")
        .repartition(col("ts")).writeTo("graft.snap.se").append() }
    val parts = graft.sources.ManifestSink.filePartitions(log)
    assert(parts.values.map(_.specId).toSet == Set(0, 1),
      s"both eras' ids on file tuples: $parts")
    // the log text carries the id-prefixed grammar for era-1 files only
    val fragText = Files.list(root.resolve("se")).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("epoch-"))
      .flatMap(p => Files.readAllLines(p).asScala)
      .filter(_.startsWith("#part ")).mkString("\n")
    assert(fragText.contains("1@"), s"era-1 tuples carry the id: $fragText")

    // the .partitions metadata table shows the era mix: identity
    // tuples under spec 0, day tuples under spec 1
    assert(s.sql("SELECT spec_id, count(*) FROM graft.snap.se.partitions " +
      "GROUP BY spec_id ORDER BY spec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 2L), (1L, 2L)),
      "two identity partitions from era 0, two day partitions from era 1")

    def prune(): (Int, Int) = graft.sources.SnapTable.lastPruneOf("se")
    // a lang predicate prunes era-0 files by their identity tuple;
    // era-1 files (days tuples, mixed langs, so string stats can't
    // prune either) stay — 3 of 4
    assert(s.sql("SELECT sum(k) FROM graft.snap.se WHERE lang = 'de'")
      .head().getLong(0) == 1L + 2L + 5L + 7L)
    assert(prune() == ((4, 3)), s"lang predicate plans 3 of 4: ${prune()}")
    // a day predicate prunes era-1 files by their days tuple; era-0
    // files span both days (stats can't prune) and stay — 3 of 4
    assert(s.sql("""SELECT sum(k) FROM graft.snap.se
                   |WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'"""
      .stripMargin).head().getLong(0) == 2L + 4L + 7L + 8L)
    assert(prune() == ((4, 3)), s"day predicate plans 3 of 4: ${prune()}")

    // time travel to the pre-evolution snapshot still serves
    assert(s.sql(s"SELECT count(*) FROM graft.snap.se " +
      s"VERSION AS OF $preEvolveVersion").head().getLong(0) == 4)

    // DYNAMIC overwrite refuses on a mixed-spec table, loudly
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val eDyn = intercept[Exception] {
      import s.implicits._
      Seq((90L, ts(2), "zh")).toDF("k", "ts", "lang")
        .writeTo("graft.snap.se").overwritePartitions()
    }
    s.conf.unset("spark.sql.sources.partitionOverwriteMode")
    assert(eDyn.getMessage.contains("retired spec"),
      s"names the migration path: ${eDyn.getMessage}")

    // compaction MIGRATES: stale-spec files are candidates regardless
    // of size; afterwards every tuple is on the current spec
    s.sql("CALL graft.sys.compact_data('se', 1000000)").collect()
    val liveAfter = graft.sources.ManifestSink.committedFiles(log)
      .map(f => Paths.get(f).getFileName.toString).toSet
    val partsAfter = graft.sources.ManifestSink.filePartitions(log)
      .filter { case (n, _) => liveAfter.contains(n) }
    assert(partsAfter.keySet == liveAfter &&
      partsAfter.values.forall(_.specId == 1),
      s"compaction re-stamps every live file under the current spec: " +
        s"$partsAfter vs $liveAfter")
    assert(s.sql("SELECT count(*) FROM graft.snap.se").head().getLong(0) == 8)
    // ... which re-enables dynamic overwrite (replace day 2 wholesale)
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      locally { import s.implicits._
        Seq((91L, ts(2), "zh")).toDF("k", "ts", "lang")
          .writeTo("graft.snap.se").overwritePartitions() }
    } finally s.conf.unset("spark.sql.sources.partitionOverwriteMode")
    assert(s.sql("SELECT k FROM graft.snap.se ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 3L, 5L, 6L, 91L),
      "dynamic overwrite replaced exactly the day-2 partition")

    // refusals: a no-op spec, an unknown column, a mistyped transform
    val eSame = intercept[Exception] { s.sql(
      "CALL graft.sys.set_partition_spec('se', 'days(ts)')").collect() }
    assert(eSame.getMessage.contains("already the current"))
    val eCol = intercept[Exception] { s.sql(
      "CALL graft.sys.set_partition_spec('se', 'nope')").collect() }
    assert(eCol.getMessage.contains("not in the schema"))
    val eType = intercept[Exception] { s.sql(
      "CALL graft.sys.set_partition_spec('se', 'days(lang)')").collect() }
    assert(eType.getMessage.contains("timestamp/date"))

    // DROP COLUMN refuses columns ANY spec era references: lang is only
    // in the RETIRED era 0, but its live files carry lang-keyed tuples
    val eDrop = intercept[Exception] {
      s.sql("ALTER TABLE graft.snap.se DROP COLUMN lang") }
    assert(eDrop.getMessage.contains("#spec era references it"),
      eDrop.getMessage)

    // replaceWhere on a column that is IDENTITY IN BOTH eras stays
    // exactly decidable across the evolution (per-file own-spec eval)
    s.sql("""CREATE TABLE graft.snap.rp (id BIGINT, lang STRING)
            |PARTITIONED BY (lang)""".stripMargin)
    locally { import s.implicits._
      Seq((1L, "de"), (2L, "es")).toDF("id", "lang")
        .repartition(col("lang")).writeTo("graft.snap.rp").append() }
    s.sql("CALL graft.sys.set_partition_spec('rp', 'lang, bucket(4, id)')")
      .collect()
    locally { import s.implicits._
      Seq((3L, "de"), (4L, "es")).toDF("id", "lang")
        .repartition(col("lang"), col("id"))
        .writeTo("graft.snap.rp").append() }
    locally { import s.implicits._
      Seq((20L, "es")).toDF("id", "lang")
        .writeTo("graft.snap.rp").overwrite(col("lang") === "es") }
    assert(s.sql("SELECT id FROM graft.snap.rp ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 3L, 20L),
      "replaceWhere replaced BOTH eras' es files exactly")

    // racing evolutions serialize: distinct ids, both recorded, the
    // book stays readable (no one-id-two-layouts corruption)
    s.sql("""CREATE TABLE graft.snap.rc (a BIGINT, b STRING)
            |PARTITIONED BY (a)""".stripMargin)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val futs = Seq("b", "bucket(8, a)").map { sp =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        override def call(): Long = {
          val s2 = spark.newSession()
          graft.sources.GraftCatalog.register(s2, TestSpark.Sf0001)
          s2.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
          s2.sql(s"CALL graft.sys.set_partition_spec('rc', '$sp')")
            .head().getLong(0)
        }
      })
    }
    val ids = futs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    assert(ids.toSet.size == 2 && ids.forall(i => i == 1L || i == 2L),
      s"racing evolutions claimed distinct ids: $ids")
    val rcBook = graft.sources.ManifestSink.partitionSpecs(
      root.resolve("rc").toString)
    assert(rcBook.byId.keySet == Set(0, 1, 2), s"all eras recorded: $rcBook")

    // evolving to UNPARTITIONED: the empty spec takes an id; new files
    // carry no tuples and plain appends stop fanning out
    s.sql("CALL graft.sys.set_partition_spec('rc', '')").collect()
    assert(graft.sources.ManifestSink.partitionSpecs(
      root.resolve("rc").toString).current.isEmpty)
    locally { import s.implicits._
      Seq((1L, "x"), (2L, "y")).toDF("a", "b")
        .coalesce(1).writeTo("graft.snap.rc").append() }
    assert(s.sql("SELECT count(*) FROM graft.snap.rc").head().getLong(0) == 2)
    assert(graft.sources.ManifestSink.filePartitions(
      root.resolve("rc").toString).isEmpty,
      "no tuples under the empty spec")
    graft.util.Fs.deleteRecursively(root)
  }

  test("UNPARTITIONED -> PARTITIONED migration (round 17, advisor r16): " +
    "a table CREATEd without a spec (no #spec record) that evolves to " +
    "partitioned has byId = {1: spec} — compact_data must still treat " +
    "the tuple-less pre-evolution files as migration candidates, so " +
    "the dynamic-overwrite refusal's advertised resolution converges") {
    val root = Files.createTempDirectory("graft_spec_unpart")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    val log = root.resolve("up").toString

    s.sql("CREATE TABLE graft.snap.up (k BIGINT, lang STRING)")
    locally { import s.implicits._
      Seq((1L, "de"), (2L, "es")).toDF("k", "lang")
        .coalesce(1).writeTo("graft.snap.up").append() }
    s.sql("CALL graft.sys.set_partition_spec('up', 'lang')").collect()
    val book = graft.sources.ManifestSink.partitionSpecs(log)
    assert(book.byId.keySet == Set(1) && book.currentId == 1,
      s"no spec-0 record was ever written: ${book.byId.keySet}")
    // the pre-evolution file is tuple-less and LARGE relative to the
    // target — only the staleSpec gate can make it a candidate
    val r = s.sql("CALL graft.sys.compact_data('up', 1)").collect().head
    assert(r.getLong(0) >= 1, s"the tuple-less file must migrate: $r")
    val parts = graft.sources.ManifestSink.filePartitions(log)
    assert(parts.nonEmpty && parts.values.forall(_.specId == 1),
      s"post-migration tuples all under spec 1: $parts")
    // dynamic partition overwrite now works (the advertised resolution)
    locally { import s.implicits._
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try Seq((9L, "de")).toDF("k", "lang")
        .writeTo("graft.snap.up").overwritePartitions()
      finally s.conf.unset("spark.sql.sources.partitionOverwriteMode") }
    assert(s.sql("SELECT k FROM graft.snap.up ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 9L))
    graft.util.Fs.deleteRecursively(root)
  }

  test("ROLLBACK (round 16): CALL graft.sys.rollback restores a " +
    "historical snapshot as ONE metadata-only epoch — removed files " +
    "come back by reference with their AS-OF dv state, newer files " +
    "drop, history is preserved (roll forward works), dv-divergent " +
    "survivors refuse naming compaction, reclaimed targets refuse") {
    val root = Files.createTempDirectory("graft_snap_rollback")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    val log = root.resolve("rb").toString

    s.sql("""CREATE TABLE graft.snap.rb (k BIGINT, v STRING)
            |TBLPROPERTIES ('delete.mode'='mor',
            |  'compact.interval'='100')""".stripMargin)
    locally { import s.implicits._
      Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(5L, 6L)).foreach { ks =>
        ks.map(k => (k, s"v$k")).toDF("k", "v").coalesce(1)
          .writeTo("graft.snap.rb").append()
      } }
    val vBase = graft.sources.ManifestSink.newestVersion(log) // = 3
    def ks(): Seq[Long] = s.sql("SELECT k FROM graft.snap.rb ORDER BY k")
      .collect().map(_.getLong(0)).toSeq

    s.sql("DELETE FROM graft.snap.rb WHERE k = 2") // MOR dv epoch
    val vDel = graft.sources.ManifestSink.newestVersion(log)
    assert(ks() == Seq(1L, 3L, 4L, 5L, 6L))

    // a SURVIVING file whose dv state moved since the target refuses,
    // naming compaction as the resolution
    val eDiv = intercept[Exception] {
      s.sql(s"CALL graft.sys.rollback('rb', $vBase)").collect() }
    assert(eDiv.getMessage.contains("compact_data"), eDiv.getMessage)

    // compaction resolves the dv into fresh files ...
    s.sql("CALL graft.sys.compact_data('rb', 1000000)").collect()
    val vCompact = graft.sources.ManifestSink.newestVersion(log)
    assert(ks() == Seq(1L, 3L, 4L, 5L, 6L))

    // ... and the rollback to the POST-DELETE snapshot restores the
    // original files WITH their as-of dv record: k=2 stays deleted
    val r1 = s.sql(s"CALL graft.sys.rollback('rb', $vDel)").collect().head
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2)) == ((vDel, 3L, 1L)),
      s"restores 3 files, removes the compacted one: $r1")
    assert(ks() == Seq(1L, 3L, 4L, 5L, 6L),
      "merge-on-read state restored with the files")
    assert(graft.sources.ManifestSink.newestVersion(log) == vCompact + 1,
      "the restore is a NEW version — history is never rewound")

    // rolling back PAST the delete: the surviving restored file is
    // dv-divergent again — compact, then the full restore serves k=2
    s.sql("CALL graft.sys.compact_data('rb', 1000000)").collect()
    s.sql(s"CALL graft.sys.rollback('rb', $vBase)").collect()
    assert(ks() == Seq(1L, 2L, 3L, 4L, 5L, 6L),
      "rollback past the delete resurrects the row")

    // roll FORWARD: restore the post-compaction snapshot again
    s.sql(s"CALL graft.sys.rollback('rb', $vCompact)").collect()
    assert(ks() == Seq(1L, 3L, 4L, 5L, 6L), "roll forward restores too")

    // pre-restore snapshots stay time-travelable
    assert(s.sql(s"SELECT count(*) FROM graft.snap.rb VERSION AS OF $vBase")
      .head().getLong(0) == 6)

    // a version whose bytes are physically GONE refuses loudly and
    // publishes nothing. (Within the log's own lifecycle this state is
    // unreachable — historical fragments keep referencing rolled-away
    // files until a sweep, and vacuum only reclaims unreferenced
    // bytes, by which point the version already refuses at the
    // retention horizon — so the check is the defense against
    // out-of-band loss: hand-cleaned data dirs, partial restores.)
    val vBaseFile = graft.sources.ManifestSink.committedFilesAsOf(log, vBase)
      .map(f => Paths.get(f).getFileName.toString)
      .filterNot(graft.sources.ManifestSink.committedFiles(log)
        .map(f => Paths.get(f).getFileName.toString).toSet)
      .head
    Files.delete(root.resolve("rb").resolve("data").resolve(vBaseFile))
    val preRefuse = ks()
    val eVac = intercept[Exception] {
      s.sql(s"CALL graft.sys.rollback('rb', $vBase)").collect() }
    assert(eVac.getMessage.contains("reclaimed"), eVac.getMessage)
    assert(ks() == preRefuse, "a refused rollback publishes nothing")
    graft.util.Fs.deleteRecursively(root)
  }

  test("TYPE WIDENING (round 16): ALTER COLUMN TYPE int->bigint / " +
    "float->double is one metadata epoch; pre-widening files serve " +
    "through the parquet delegate AND the sink's own group reader " +
    "(dv/_pos paths); stats and partition pruning stay exact across " +
    "eras; narrowing and non-widening changes refuse") {
    val root = Files.createTempDirectory("graft_snap_widen")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    import org.apache.spark.sql.functions.col
    val log = root.resolve("tw").toString

    s.sql("""CREATE TABLE graft.snap.tw (k INT, f FLOAT, v STRING)
            |PARTITIONED BY (bucket(4, k))
            |TBLPROPERTIES ('delete.mode'='mor')""".stripMargin)
    locally { import s.implicits._
      Seq((1, 1.5f, "a"), (2, 2.5f, "b"), (3, 3.5f, "c"))
        .toDF("k", "f", "v").coalesce(1)
        .writeTo("graft.snap.tw").append() }
    val filesBefore = graft.sources.ManifestSink.committedFiles(log).toSet
    val versBefore = graft.sources.ManifestSink.newestVersion(log)

    s.sql("ALTER TABLE graft.snap.tw ALTER COLUMN k TYPE BIGINT")
    s.sql("ALTER TABLE graft.snap.tw ALTER COLUMN f TYPE DOUBLE")
    assert(graft.sources.ManifestSink.committedFiles(log).toSet == filesBefore,
      "widening moves zero data files")
    assert(graft.sources.ManifestSink.newestVersion(log) == versBefore + 2,
      "each widening is one metadata epoch")

    // era-1 values NEED the width (outside int/float exactness)
    val big = 9000000000L
    locally { import s.implicits._
      Seq((big, 1e40, "d"), (big + 1, 2e40, "e"))
        .toDF("k", "f", "v").coalesce(1)
        .writeTo("graft.snap.tw").append() }

    // the parquet-delegate read spans both eras
    assert(s.sql("SELECT sum(k) FROM graft.snap.tw").head().getLong(0) ==
      1L + 2L + 3L + big + (big + 1))
    assert(s.sql("SELECT sum(f) FROM graft.snap.tw").head().getDouble(0) ==
      (1.5 + 2.5 + 3.5 + 1e40 + 2e40))

    // stats pruning stays exact across eras: a point read above the
    // int range plans only the era-1 file
    assert(s.sql(s"SELECT v FROM graft.snap.tw WHERE k = $big")
      .collect().map(_.getString(0)).toSeq == Seq("d"))
    // (the bucket(4, k) fan-out split each era's insert per tuple:
    // 3 era-0 files + 2 era-1 files)
    assert(graft.sources.SnapTable.lastPruneOf("tw") == ((5, 1)),
      s"wide point read plans 1 of 5: ${graft.sources.SnapTable.lastPruneOf("tw")}")

    // the sink's own group reader must PROMOTE the narrow stored
    // primitives: _pos reads and dv-carrying files take that path
    assert(s.sql("SELECT k, _pos FROM graft.snap.tw WHERE v = 'b'")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2L, 0L))) // its own bucket file: one row, ordinal 0
    s.sql("DELETE FROM graft.snap.tw WHERE v = 'a'") // MOR dv on era-0 file
    assert(s.sql("SELECT sum(k), sum(f) FROM graft.snap.tw").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((2L + 3L + big + (big + 1), 2.5 + 3.5 + 1e40 + 2e40)),
      "dv-carrying era-0 file serves widened through the group reader")

    // MERGE under mor: the delta writer reads widened, appends wide
    locally { import s.implicits._
      Seq((2L, 9.0, "b2")).toDF("k", "f", "v")
        .createOrReplaceTempView("tw_src") }
    s.sql("""MERGE INTO graft.snap.tw t USING tw_src s ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    assert(s.sql("SELECT v FROM graft.snap.tw WHERE k = 2")
      .collect().map(_.getString(0)).toSeq == Seq("b2"))

    // bucket(4, k) partition pruning: tuples written in the int era
    // keep pruning under the widened column (same numeric tokens)
    s.sql("SELECT v FROM graft.snap.tw WHERE k = 3").collect()
    val (_, kept) = graft.sources.SnapTable.lastPruneOf("tw")
    assert(kept <= 2, s"bucket pruning survives widening: kept $kept")

    // refusals. NARROWING dies in Spark's own analyzer (canUpCast
    // gates AlterColumns before the catalog sees it) ...
    val eNarrow = intercept[Exception] {
      s.sql("ALTER TABLE graft.snap.tw ALTER COLUMN k TYPE INT") }
    assert(eNarrow.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"),
      eNarrow.getMessage)
    // ... while analyzer-admitted up-casts OUTSIDE the exact-promotion
    // set (long->double re-scales, double->string re-encodes) reach
    // the catalog guard and refuse there
    val eLossy = intercept[Exception] {
      s.sql("ALTER TABLE graft.snap.tw ALTER COLUMN k TYPE DOUBLE") }
    assert(eLossy.getMessage.contains("WIDENING"), eLossy.getMessage)
    val eStr = intercept[Exception] {
      s.sql("ALTER TABLE graft.snap.tw ALTER COLUMN f TYPE STRING") }
    assert(eStr.getMessage.contains("WIDENING"), eStr.getMessage)

    // a stale NARROW conf refuses to serve (the containment check
    // accepts only declared-wide over recorded-narrow, never reverse)
    s.conf.set("spark.sql.catalog.graft.snap.tw.schema",
      "k INT, f FLOAT, v STRING")
    val eStale = intercept[Exception] {
      s.sql("SELECT count(*) FROM graft.snap.tw").collect() }
    assert(eStale.getMessage.contains("schema"), eStale.getMessage)
    s.conf.unset("spark.sql.catalog.graft.snap.tw.schema")
    graft.util.Fs.deleteRecursively(root)
  }

  test("SNAPSHOT TAGS (round 16): create_tag names an epoch so " +
    "VERSION AS OF '<tag>' reads it, re-tagging moves the pointer, " +
    "drop_tag tombstones it, tags survive compaction sweeps, and " +
    "numeric names / dangling versions / unknown tags refuse") {
    val root = Files.createTempDirectory("graft_snap_tags")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    val log = root.resolve("tg").toString

    s.sql("""CREATE TABLE graft.snap.tg (k BIGINT, v STRING)
            |TBLPROPERTIES ('compact.interval'='6')""".stripMargin)
    locally { import s.implicits._
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
        .writeTo("graft.snap.tg").append() }
    val vGood = graft.sources.ManifestSink.newestVersion(log)
    // default version = the newest at call time
    val r = s.sql("CALL graft.sys.create_tag('tg', 'blessed')").collect().head
    assert((r.getString(0), r.getLong(1)) == (("blessed", vGood)))
    locally { import s.implicits._
      Seq((3L, "c")).toDF("k", "v").coalesce(1)
        .writeTo("graft.snap.tg").append() }
    val vAll = graft.sources.ManifestSink.newestVersion(log)

    assert(s.sql("SELECT k FROM graft.snap.tg VERSION AS OF 'blessed' " +
      "ORDER BY k").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L),
      "the tag serves its epoch, not the current snapshot")
    assert(s.sql("SELECT count(*) FROM graft.snap.tg").head().getLong(0) == 3)

    // explicit version + the .tags metadata table
    s.sql(s"CALL graft.sys.create_tag('tg', 'audited', $vAll)")
      .collect()
    assert(s.sql("SELECT tag, version FROM graft.snap.tg.tags ORDER BY tag")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("audited", vAll), ("blessed", vGood)))

    // re-tagging MOVES the pointer (last record wins)
    s.sql(s"CALL graft.sys.create_tag('tg', 'blessed', $vAll)")
      .collect()
    assert(s.sql("SELECT count(*) FROM graft.snap.tg VERSION AS OF " +
      "'blessed'").head().getLong(0) == 3)

    // drop: the name refuses afterwards, listing what exists
    s.sql("CALL graft.sys.drop_tag('tg', 'audited')").collect()
    val eGone = intercept[Exception] {
      s.sql("SELECT * FROM graft.snap.tg VERSION AS OF 'audited'")
        .collect() }
    assert(eGone.getMessage.contains("no tag or branch 'audited'") &&
      eGone.getMessage.contains("blessed"), eGone.getMessage)
    val eDropGone = intercept[Exception] {
      s.sql("CALL graft.sys.drop_tag('tg', 'audited')").collect() }
    assert(eDropGone.getMessage.contains("no tag"), eDropGone.getMessage)

    // refusals: numeric names are epoch ids, dangling versions refuse
    val eNum = intercept[Exception] {
      s.sql("CALL graft.sys.create_tag('tg', '42')").collect() }
    assert(eNum.getMessage.contains("not a bare integer"), eNum.getMessage)
    val eDangle = intercept[Exception] {
      s.sql("CALL graft.sys.create_tag('tg', 'future', 9999)").collect() }
    assert(eDangle.getMessage.contains("does not exist"), eDangle.getMessage)

    // tags survive a compaction sweep (the #tag record is carried);
    // a tag BELOW the new horizon refuses with the retention message
    (0 until 8).foreach { i =>
      locally { import s.implicits._
        Seq((100L + i, "z")).toDF("k", "v").coalesce(1)
          .writeTo("graft.snap.tg").append() }
    }
    val horizon = {
      val l = java.nio.file.Files.list(root.resolve("tg"))
      try l.iterator().asScala.map(_.getFileName.toString).toSeq
        .filter(_.startsWith("compact-")).sorted.lastOption
        .map(_.stripPrefix("compact-").toLong).getOrElse(-1L)
      finally l.close()
    }
    assert(horizon >= 0, "the interval-6 log must have swept by now")
    assert(s.sql("SELECT tag FROM graft.snap.tg.tags").collect()
      .map(_.getString(0)).toSeq == Seq("blessed"),
      "the tag record rides the sweep")
    if (vAll < horizon) {
      val eHorizon = intercept[Exception] {
        s.sql("SELECT * FROM graft.snap.tg VERSION AS OF 'blessed'")
          .collect() }
      assert(eHorizon.getMessage.contains("retention") ||
        eHorizon.getMessage.contains("horizon") ||
        eHorizon.getMessage.contains("swept") ||
        eHorizon.getMessage.contains("compact"), eHorizon.getMessage)
    }
    graft.util.Fs.deleteRecursively(root)
  }

  test("TIMESTAMP AS OF (round 16): the newest live epoch committed " +
    "at or before the literal serves; future timestamps serve the " +
    "newest snapshot; timestamps below the sweep horizon (or before " +
    "the first commit) refuse with the boundary spelled out") {
    val root = Files.createTempDirectory("graft_snap_ts")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    val log = root.resolve("tt")

    s.sql("CREATE TABLE graft.snap.tt (k BIGINT, v STRING)")
    locally { import s.implicits._
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
        .writeTo("graft.snap.tt").append() }
    locally { import s.implicits._
      Seq((3L, "c")).toDF("k", "v").coalesce(1)
        .writeTo("graft.snap.tt").append() }
    // pin the epochs' PERSISTED commit times (round 17: the `#ts`
    // header is the clock, not mtimes) — no sleeps, no real-clock
    // flakiness
    def setMs(id: Long, ms: Long): Unit =
      graft.sources.ManifestSink.stampCommitTime(
        log.toString, id, ms * 1000L)
    setMs(0, 1000000L) // CREATE
    setMs(1, 2000000L) // (1,2)
    setMs(2, 3000000L) // (3)
    // an mtime-disturbing copy (advisor r16: cp/rsync without -a,
    // backup restore) must NOT shift the timeline — the persisted
    // header wins over the disturbed mtime
    Files.setLastModifiedTime(log.resolve(f"epoch-${1L}%020d"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis()))
    def countAt(tsMs: Long): Long = s.sql(
      "SELECT count(*) FROM graft.snap.tt TIMESTAMP AS OF " +
        s"timestamp_micros(${tsMs * 1000L})").head().getLong(0)
    // Spark folds the (foldable) AS OF expression to UTC micros;
    // timestamp_micros keeps the arithmetic explicit
    assert(countAt(2500000L) == 2, "between the appends: first snapshot")
    assert(countAt(2000000L) == 2, "exactly at a commit: that snapshot")
    assert(countAt(9999999L) == 3, "after the newest: the newest")
    assert(countAt(1500000L) == 0, "after CREATE, before data: empty")
    val eEarly = intercept[Exception] { countAt(500L) }
    assert(eEarly.getMessage.contains("first commit"), eEarly.getMessage)

    // sweep the log: historical commit times go with the swept epochs
    (0 until 10).foreach { i =>
      locally { import s.implicits._
        Seq((100L + i, "z")).toDF("k", "v").coalesce(1)
          .writeTo("graft.snap.tt").append() }
    }
    val horizon = {
      val l = Files.list(log)
      try l.iterator().asScala.map(_.getFileName.toString).toSeq
        .filter(_.startsWith("compact-")).sorted.lastOption
        .map(_.stripPrefix("compact-").toLong).getOrElse(-1L)
      finally l.close()
    }
    assert(horizon >= 0, "the default interval must have swept by now")
    val eSwept = intercept[Exception] { countAt(2500000L) }
    assert(eSwept.getMessage.contains("compacted"), eSwept.getMessage)
    graft.util.Fs.deleteRecursively(root)
  }

  test("CDC CHANGE FEED (round 17): appends serve as inserts, a " +
    "dv-only epoch yields EXACTLY its deleted rows, a MOR update " +
    "yields pre+post images, a COW delete yields the deleted rows " +
    "via the diff, a compaction yields ZERO rows without reading a " +
    "byte, an overwrite is full delete+insert, and windows below the " +
    "horizon refuse") {
    val root = Files.createTempDirectory("graft_snap_cdf")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    val log = root.resolve("cdc").toString

    s.sql("CREATE TABLE graft.snap.cdc (k BIGINT, lang STRING, v BIGINT)")
    locally { import s.implicits._
      Seq((1L, "de", 10L), (2L, "es", 20L), (3L, "de", 30L))
        .toDF("k", "lang", "v").coalesce(1)
        .writeTo("graft.snap.cdc").append() }                     // epoch 1
    locally { import s.implicits._
      Seq((4L, "fr", 40L)).toDF("k", "lang", "v").coalesce(1)
        .writeTo("graft.snap.cdc").append() }                     // epoch 2
    s.conf.set("spark.sql.catalog.graft.snap.cdc.deleteMode", "mor")
    s.sql("DELETE FROM graft.snap.cdc WHERE k = 2")               // epoch 3
    s.sql("UPDATE graft.snap.cdc SET v = 31 WHERE k = 3")         // epoch 4
    s.conf.set("spark.sql.catalog.graft.snap.cdc.deleteMode", "cow")
    s.sql("DELETE FROM graft.snap.cdc WHERE k = 1")               // epoch 5
    s.sql("CALL graft.sys.compact_data('cdc', 1000000)").collect() // epoch 6
    s.sql("INSERT OVERWRITE graft.snap.cdc VALUES " +
      "(9, 'zz', 90)")                                            // epoch 7
    assert(graft.sources.ManifestSink.newestVersion(log) == 7L,
      "the lifecycle must land on the expected epoch ids")

    def changes(since: Long, until: Long): Set[(Long, String, Long, String, Long)] =
      graft.sources.ChangeFeed.tableChanges(s, log, since, Some(until))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getString(3), r.getLong(4))).toSet

    // appends are inserts
    assert(changes(0, 2) == Set(
      (1L, "de", 10L, "insert", 1L), (2L, "es", 20L, "insert", 1L),
      (3L, "de", 30L, "insert", 1L), (4L, "fr", 40L, "insert", 2L)))
    // a dv-only epoch yields EXACTLY its deleted rows (the verdict pin)
    assert(changes(2, 3) == Set((2L, "es", 20L, "delete", 3L)))
    // MOR update: pre-image at the dv position, post-image from the add
    assert(changes(3, 4) == Set(
      (3L, "de", 30L, "update_preimage", 4L),
      (3L, "de", 31L, "update_postimage", 4L)))
    // COW delete: the diff is the deleted rows, nothing else
    assert(changes(4, 5) == Set((1L, "de", 10L, "delete", 5L)))
    // compaction: ZERO rows AND zero data read (no parquet scan planned)
    val compactDf = graft.sources.ChangeFeed.tableChanges(s, log, 5, Some(6))
    assert(compactDf.isEmpty, "file rewrite is not row change")
    val plan = compactDf.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("parquet"),
      s"a compact epoch must not be read at all:\n$plan")
    // overwrite: full replacement — every pre row deleted, new inserted
    assert(changes(6, 7) == Set(
      (3L, "de", 31L, "delete", 7L), (4L, "fr", 40L, "delete", 7L),
      (9L, "zz", 90L, "insert", 7L)))
    // the whole retained window composes all of the above
    assert(changes(0, 7).size == 4 + 1 + 2 + 1 + 3)

    // an incremental consumer of the feed matches its batch recompute:
    // signed replay of (insert/post = +1, delete/pre = -1) reproduces
    // the final per-lang aggregate exactly
    val feed = graft.sources.ChangeFeed.tableChanges(s, log, 0, Some(7))
    feed.createOrReplaceTempView("cdc_feed")
    val replayed = s.sql(
      """SELECT lang, sum(sign * v) AS sum_v, sum(sign) AS n FROM (
        |  SELECT lang, v, CASE WHEN _change_type IN
        |    ('insert', 'update_postimage') THEN 1 ELSE -1 END AS sign
        |  FROM cdc_feed) GROUP BY lang HAVING sum(sign) > 0
        |ORDER BY lang""".stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val direct = s.sql(
      """SELECT lang, sum(v) AS sum_v, count(*) AS n
        |FROM graft.snap.cdc GROUP BY lang ORDER BY lang""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(replayed == direct, s"incremental $replayed vs batch $direct")

    // sweep the log past the early epochs: the window refuses loudly
    (0 until 10).foreach { i =>
      locally { import s.implicits._
        Seq((100L + i, "z", 0L)).toDF("k", "lang", "v").coalesce(1)
          .writeTo("graft.snap.cdc").append() }
    }
    val eSwept = intercept[Exception] { changes(0, 7) }
    assert(eSwept.getMessage.contains("horizon"), eSwept.getMessage)
    graft.util.Fs.deleteRecursively(root)
  }

  test("NESTED-FIELD EVOLUTION (round 17): RENAME/DROP of struct fields " +
    "via dotted #colmap entries (zero bytes rewritten), inner type " +
    "WIDENING and inner ADD via one #schema epoch, pre-evolution files " +
    "still served (missing inner -> null, narrow inner promotes), the " +
    "sink's own reader agrees, and array/map/deep/narrowing refuse") {
    val root = Files.createTempDirectory("graft_nested_evolve")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    s.sql("""CREATE TABLE graft.snap.ne (doc_id BIGINT,
            |  meta STRUCT<lang: STRING, score: INT, junk: STRING>)
            |""".stripMargin)
    s.sql("INSERT INTO graft.snap.ne VALUES " +
      "(1, named_struct('lang', 'de', 'score', 10, 'junk', 'x')), " +
      "(2, named_struct('lang', 'es', 'score', 20, 'junk', 'y'))")
    val filesBefore = graft.sources.ManifestSink
      .committedFiles(root.resolve("ne").toString).toSet

    s.sql("ALTER TABLE graft.snap.ne RENAME COLUMN meta.lang TO language")
    s.sql("ALTER TABLE graft.snap.ne DROP COLUMN meta.junk")
    s.sql("ALTER TABLE graft.snap.ne ALTER COLUMN meta.score TYPE BIGINT")
    s.sql("ALTER TABLE graft.snap.ne ADD COLUMN meta.extra BIGINT")
    assert(graft.sources.ManifestSink
      .committedFiles(root.resolve("ne").toString).toSet == filesBefore,
      "nested evolution moves zero data files")

    // the served schema: renamed + dropped + widened + added
    val served = s.table("graft.snap.ne").schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(served.fieldNames.toSeq == Seq("language", "score", "extra") &&
      served("score").dataType.typeName == "long", served.toDDL)

    // post-evolution write under the NEW logical names (score wide,
    // out-of-int-range value proves the widened leaf)
    s.sql("INSERT INTO graft.snap.ne VALUES " +
      "(3, named_struct('language', 'fr', 'score', 9000000000L, " +
      "'extra', 7L))")
    val all = s.sql(
      """SELECT doc_id, meta.language, meta.score, meta.extra
        |FROM graft.snap.ne ORDER BY doc_id""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(all.toSeq == Seq(
      (1L, "de", 10L, -1L), (2L, "es", 20L, -1L),
      (3L, "fr", 9000000000L, 7L)),
      s"old files promote+null-fill, new files serve: ${all.toSeq}")
    // the dropped field is gone from the face entirely
    val eDropped = intercept[Exception] {
      s.sql("SELECT meta.junk FROM graft.snap.ne").collect() }
    assert(eDropped.getMessage.contains("junk"), eDropped.getMessage)

    // the SINK'S OWN reader (dv/row-level/tail paths) agrees with the
    // delegate: a merge-on-read DELETE forces it through the dv-scan,
    // and the surviving rows keep their struct values intact
    s.conf.set("spark.sql.catalog.graft.snap.ne.deleteMode", "mor")
    s.sql("DELETE FROM graft.snap.ne WHERE doc_id = 2")
    val after = s.sql(
      """SELECT doc_id, meta.language, meta.score FROM graft.snap.ne
        |ORDER BY doc_id""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(after == Seq((1L, "de", 10L), (3L, "fr", 9000000000L)), after)
    // ... and the sink reader serves the struct through the streaming
    // tail face as well (epoch 1 only: pre-evolution bytes)
    // the .changes FACE serves the logical nested shape too (advisor
    // r18): renamed inner names in the schema, the dropped inner
    // field's bytes never resurfacing through the group reader
    val cfStruct = s.table("graft.snap.ne.changes").schema("meta")
      .dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(cfStruct.fieldNames.toSeq == Seq("language", "score", "extra"),
      s"the .changes face logicalizes nested names: ${cfStruct.toDDL}")
    val tailRows = s.read.option("sinceVersion", "0")
      .option("asOfVersion", "1").table("graft.snap.ne.changes")
      .collect().map(r => (r.getLong(0),
        r.getStruct(1).getString(0), r.getStruct(1).getLong(1))).toSet
    assert(tailRows == Set((1L, "de", 10L), (2L, "es", 20L)),
      s"the by-name group reader promotes + renames: $tailRows")
    assert(s.sql("SELECT meta.language FROM graft.snap.ne.changes " +
      "WHERE _commit_version = 1").collect()
      .map(_.getString(0)).toSet == Set("de", "es"),
      "renamed inner field resolves by its LOGICAL name on .changes")

    // the ChangeFeed API serves the LOGICAL nested names too (the
    // renamed inner field, the dropped one gone), with commit
    // timestamps attached
    val apiRows = graft.sources.ChangeFeed.tableChanges(s,
      root.resolve("ne").toString, 0, Some(1L))
    assert(apiRows.schema("meta").dataType.asInstanceOf[
        org.apache.spark.sql.types.StructType].fieldNames.toSeq ==
      Seq("language", "score", "extra"), apiRows.schema.toDDL)
    assert(apiRows.schema.fieldNames.contains("_commit_timestamp"))
    assert(apiRows.collect().map(r =>
      (r.getLong(0), r.getStruct(1).getString(0))).toSet ==
      Set((1L, "de"), (2L, "es")), "epoch-1 inserts under logical names")

    // refusals: composite MAP KEYS refuse at the sink gate (arrays and
    // maps are first-class since round 18 — ArrayEvolve/MapEvolve
    // cover them), non-struct parents and depth > 2 refuse, narrowing
    // refuses, unknown fields refuse
    val eMapKey = intercept[Exception] {
      s.sql("ALTER TABLE graft.snap.ne ADD COLUMN m " +
        "MAP<STRUCT<a: INT>, STRING>") }
    assert(eMapKey.getMessage.contains("PRIMITIVE map keys"),
      eMapKey.getMessage)
    val ePrim = intercept[Exception] {
      s.sql("ALTER TABLE graft.snap.ne RENAME COLUMN doc_id.x TO y") }
    assert(ePrim.getMessage.contains("STRUCT fields only") ||
      ePrim.getMessage.contains("is not a struct"), ePrim.getMessage)
    val eDeep = intercept[Exception] {
      s.sql("ALTER TABLE graft.snap.ne RENAME COLUMN meta.score.x TO y") }
    assert(eDeep.getMessage.contains("ONE level") ||
      eDeep.getMessage.contains("is not a struct"), eDeep.getMessage)
    val eNarrow = intercept[Exception] {
      s.sql("ALTER TABLE graft.snap.ne ALTER COLUMN meta.score TYPE INT") }
    assert(eNarrow.getMessage.contains("WIDENING") ||
      eNarrow.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"),
      eNarrow.getMessage) // Spark's own analyzer refuses the narrowing
                          // before the catalog even sees it
    val eMissing = intercept[Exception] {
      s.sql("ALTER TABLE graft.snap.ne DROP COLUMN meta.nope") }
    assert(eMissing.getMessage.contains("no field") ||
      eMissing.getMessage.contains("cannot be resolved"),
      eMissing.getMessage) // Spark resolves struct fields at analysis
    graft.util.Fs.deleteRecursively(root)
  }

  test("BRANCH REFS + WRITE-AUDIT-PUBLISH (round 17): staged appends " +
    "are invisible to main (reads, tail, change feed), VERSION AS OF " +
    "'<branch>' audits main+staged, fast_forward publishes exactly " +
    "once at the publish version, a main write after the fork refuses " +
    "the publish, sweeps stop below live staged epochs, and dropping " +
    "a branch abandons its files to vacuum") {
    val root = Files.createTempDirectory("graft_wap")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    val log = root.resolve("wap").toString
    s.sql("CREATE TABLE graft.snap.wap (k BIGINT, v STRING)")
    s.sql("INSERT INTO graft.snap.wap VALUES (1, 'a')")        // epoch 1
    val fork = s.sql("CALL graft.sys.create_branch('wap', 'audit')")
      .collect().head
    assert(fork.getString(0) == "audit" && fork.getLong(1) == 1L)

    // stage TWO appends on the branch
    s.conf.set("spark.graft.wap.branch", "audit")
    s.sql("INSERT INTO graft.snap.wap VALUES (2, 'b')")        // epoch 3
    s.sql("INSERT INTO graft.snap.wap VALUES (3, 'c')")        // epoch 4
    // COPY-ON-WRITE forms still refuse under the wap conf (round 19
    // lifted the refusal for OVERWRITE forms — staged-overwrite
    // semantics are pinned in their own test below)
    val eDel = intercept[Exception] {
      s.sql("DELETE FROM graft.snap.wap WHERE k = 1") }
    assert(eDel.getMessage.contains("branch"), eDel.getMessage)
    s.conf.unset("spark.graft.wap.branch")

    // the .branches metadata table audits the staged footprint
    assert(s.sql("SELECT branch, base_version, staged_epochs, " +
      "staged_files FROM graft.snap.wap.branches").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq == Seq(("audit", 1L, 2L, 2L)),
      "one live ref, two staged epochs/files")

    // main sees NOTHING staged — batch, history kinds, change feed
    assert(s.sql("SELECT k FROM graft.snap.wap").collect()
      .map(_.getLong(0)).toSeq == Seq(1L), "staged rows invisible to main")
    assert(s.sql("SELECT count(*) FROM graft.snap.wap.changes")
      .head().getLong(0) == 1L, "the feed serves only the main insert")
    // the branch READ face audits main + staged
    assert(s.sql("SELECT k FROM graft.snap.wap VERSION AS OF 'audit' " +
      "ORDER BY k").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // ... and is read-only
    val eWrite = intercept[Exception] { locally { import s.implicits._
      Seq((7L, "x")).toDF("k", "v")
        .writeTo("graft.snap.wap VERSION AS OF `audit`").append() } }

    // PUBLISH: one epoch, rows visible exactly once, feed labels them
    // inserts at the publish version
    val pub = s.sql("CALL graft.sys.fast_forward('wap', 'audit')")
      .collect().head
    assert(pub.getLong(1) == 2L && pub.getLong(2) == 2L,
      s"two staged epochs, two files: $pub")
    val pubV = pub.getLong(0)
    assert(s.sql("SELECT k FROM graft.snap.wap ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L), "published exactly once")
    val feed = s.read.option("sinceVersion", (pubV - 1).toString)
      .option("asOfVersion", pubV.toString)
      .table("graft.snap.wap.changes").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSet
    assert(feed == Set((2L, "insert", pubV), (3L, "insert", pubV)),
      s"the feed serves the audited rows AT the publish version: $feed")
    assert(graft.sources.ManifestSink.tableBranches(log).isEmpty,
      "the ref dropped atomically with the publish")

    // RACE PIN: main moves after the fork -> publish refuses
    s.sql("CALL graft.sys.create_branch('wap', 'race')").collect()
    s.conf.set("spark.graft.wap.branch", "race")
    s.sql("INSERT INTO graft.snap.wap VALUES (10, 'r')")
    s.conf.unset("spark.graft.wap.branch")
    s.sql("INSERT INTO graft.snap.wap VALUES (11, 'm')") // main moved
    val eRace = intercept[Exception] {
      s.sql("CALL graft.sys.fast_forward('wap', 'race')").collect() }
    assert(eRace.getMessage.contains("no longer fast-forwards") ||
      eRace.getMessage.contains("landed after"), eRace.getMessage)
    // the staged row is still invisible; main's own append serves
    assert(s.sql("SELECT k FROM graft.snap.wap ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 11L))

    // SWEEPS stop below the live staged epoch: push past the interval
    (0 until 12).foreach(i =>
      s.sql(s"INSERT INTO graft.snap.wap VALUES (${100 + i}, 'f')"))
    assert(s.sql("SELECT k FROM graft.snap.wap VERSION AS OF 'race' " +
      "ORDER BY k").collect().map(_.getLong(0))
      .count(k => k == 10L) == 1, "staged epoch survives the sweeps")

    // DROP abandons: the ref dies, the next sweep absorbs the staged
    // epoch as nothing, vacuum reclaims its file
    val stagedFiles = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(root.resolve("wap").resolve("data"))
        .iterator().asScala.map(_.getFileName.toString).toSet
    }
    s.sql("CALL graft.sys.drop_branch('wap', 'race')").collect()
    val eGone = intercept[Exception] {
      s.sql("SELECT * FROM graft.snap.wap VERSION AS OF 'race'").collect() }
    assert(eGone.getMessage.contains("race"), eGone.getMessage)
    (0 until 12).foreach(i =>
      s.sql(s"INSERT INTO graft.snap.wap VALUES (${200 + i}, 'g')"))
    val reclaimed = graft.sources.ManifestSink.vacuum(log, 0L)
    assert(reclaimed.nonEmpty,
      "the abandoned staged file ages out through vacuum")
    assert(s.sql("SELECT count(*) FROM graft.snap.wap").head().getLong(0)
      == 3 + 1 + 12 + 12, "main rows intact after the reclaim")
    graft.util.Fs.deleteRecursively(root)
  }

  test("ROUTINE SWEEPS clamp at live branch BASES (advisor r18): a " +
    "staged write whose commit triggers the interval sweep cannot " +
    "absorb epochs past the branch base — the branch stays " +
    "publishable when main's data never moved; once published, the " +
    "next sweep proceeds past the old base") {
    val root = Files.createTempDirectory("graft_basecap")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    val log = root.resolve("bc").toString
    s.sql("""CREATE TABLE graft.snap.bc (k BIGINT, v STRING)
            |TBLPROPERTIES ('compact.interval'='4')""".stripMargin)
    (1 to 3).foreach(i =>
      s.sql(s"INSERT INTO graft.snap.bc VALUES ($i, 'v$i')")) // epochs 1-3
    s.sql("CALL graft.sys.create_branch('bc', 'fresh')").collect() // epoch 4, base 3
    // the staged commit is the 5th loose epoch: without the base
    // clamp the sweep absorbs 1..4 (staged cap) -> horizon 4 > base 3
    // -> fast_forward refuses FOREVER though main's data never moved
    s.conf.set("spark.graft.wap.branch", "fresh")
    s.sql("INSERT INTO graft.snap.bc VALUES (10, 's')")          // epoch 5
    s.conf.unset("spark.graft.wap.branch")
    val horizon = graft.sources.ManifestSink.compactionHorizon(log)
    assert(horizon <= 3L,
      s"the sweep must clamp at the branch base 3, horizon: $horizon")
    val pub = s.sql("CALL graft.sys.fast_forward('bc', 'fresh')")
      .collect().head
    assert(pub.getLong(1) == 1L && pub.getLong(2) == 1L, pub)
    assert(s.sql("SELECT k FROM graft.snap.bc ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 10L),
      "published exactly once after the clamped sweep")
    // ref dropped with the publish: the next commits sweep freely
    (1 to 4).foreach(i =>
      s.sql(s"INSERT INTO graft.snap.bc VALUES (${20 + i}, 'm')"))
    assert(graft.sources.ManifestSink.compactionHorizon(log) > 3L,
      "sweeps proceed past the old base once the ref is gone")
    graft.util.Fs.deleteRecursively(root)
  }

  test("TAG/BRANCH NAMESPACE symmetry (advisor r18): a tag cannot be " +
    "created with a live branch's name — the branch would shadow it " +
    "in VERSION AS OF and the tag would silently change meaning when " +
    "the branch drops") {
    val root = Files.createTempDirectory("graft_tagbranch")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    s.sql("CREATE TABLE graft.snap.tb (k BIGINT)")
    s.sql("INSERT INTO graft.snap.tb VALUES (1)")
    s.sql("CALL graft.sys.create_branch('tb', 'ref')").collect()
    val eTag = intercept[Exception] {
      s.sql("CALL graft.sys.create_tag('tb', 'ref', 1)").collect() }
    assert(eTag.getMessage.contains("names a BRANCH"), eTag.getMessage)
    // the reverse direction was already refused (r17): branch over tag
    s.sql("CALL graft.sys.create_tag('tb', 'pin', 1)").collect()
    val eBr = intercept[Exception] {
      s.sql("CALL graft.sys.create_branch('tb', 'pin')").collect() }
    assert(eBr.getMessage.contains("names a TAG"), eBr.getMessage)
    // dropping the branch frees the name for a tag
    s.sql("CALL graft.sys.drop_branch('tb', 'ref')").collect()
    s.sql("CALL graft.sys.create_tag('tb', 'ref', 1)").collect()
    assert(s.sql("SELECT count(*) FROM graft.snap.tb VERSION AS OF 'ref'")
      .head().getLong(0) == 1L)
    graft.util.Fs.deleteRecursively(root)
  }

  test("CHANGE-FEED GAP refusal is strict (advisor r18): a loose " +
    "epoch manifest missing under a STABLE horizon refuses loudly " +
    "instead of silently omitting its changes") {
    val root = Files.createTempDirectory("graft_cdfgap")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    s.sql("CREATE TABLE graft.snap.gap (k BIGINT)")
    (1 to 3).foreach(i =>
      s.sql(s"INSERT INTO graft.snap.gap VALUES ($i)")) // epochs 1-3
    val log = root.resolve("gap")
    // simulate the stale-horizon race's residue: the OLDEST loose
    // epoch manifest is gone while no compact ever landed — the old
    // code's (horizon, firstLoose) excuse would silently skip epoch 1
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(log).iterator().asScala
      .filter(_.getFileName.toString.startsWith("epoch-"))
      .toSeq.sortBy(_.getFileName.toString).take(2)
      .foreach(java.nio.file.Files.delete(_))
    val e = intercept[IllegalStateException] {
      graft.sources.ChangeFeed.tableChanges(s, log.toString, -1).collect() }
    assert(e.getMessage.contains("gone"), e.getMessage)
    graft.util.Fs.deleteRecursively(root)
  }

  test("STAGED ROW-LEVEL WRITES on WAP branches (round 18): a " +
    "merge-on-read DELETE and an UPDATE stage as #forbranch dv " +
    "epochs — applied by the audit face, invisible to main — " +
    "fast_forward replays them with the staged appends in ONE 'merge' " +
    "epoch (the feed serves delete pre-images + inserts at the " +
    "publish version), a main write between stage and publish " +
    "refuses, COW staging refuses with the mor hint, and a dropped " +
    "branch's dv files vacuum out") {
    val root = Files.createTempDirectory("graft_wapmor")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    val log = root.resolve("bm").toString
    s.sql("""CREATE TABLE graft.snap.bm (k BIGINT, v STRING)
            |TBLPROPERTIES ('delete.mode'='mor')""".stripMargin)
    locally { import s.implicits._
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
        .coalesce(1).writeTo("graft.snap.bm").append()     // epoch 1
    }
    s.sql("CALL graft.sys.create_branch('bm', 'fix')").collect() // epoch 2
    s.conf.set("spark.graft.wap.branch", "fix")
    s.sql("DELETE FROM graft.snap.bm WHERE k = 2")         // staged dv
    locally { import s.implicits._
      Seq((10L, "x")).toDF("k", "v")
        .coalesce(1).writeTo("graft.snap.bm").append()     // staged add
    }
    // staged UPDATE of a row appended ON THE BRANCH (dv + add epoch)
    s.sql("UPDATE graft.snap.bm SET v = 'y' WHERE k = 10")
    // ... and a staged delete of a staged row's OLD image must not
    // resurrect: k=10 now serves 'y' on the audit face
    s.conf.unset("spark.graft.wap.branch")

    // audit face applies staged dvs + adds; main is untouched
    assert(s.sql("SELECT k, v FROM graft.snap.bm VERSION AS OF 'fix' " +
      "ORDER BY k").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq == Seq((1L, "a"), (3L, "c"), (10L, "y")),
      "the audit face serves the staged delete + update")
    assert(s.sql("SELECT k FROM graft.snap.bm ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L),
      "main serves the pre-stage rows until publish")
    assert(s.sql("SELECT count(*) FROM graft.snap.bm.changes")
      .head().getLong(0) == 3L, "the feed serves only main's epoch-1 rows")

    // COW staging refuses with the mor hint
    s.conf.set("spark.sql.catalog.graft.snap.bm.deleteMode", "cow")
    s.conf.set("spark.graft.wap.branch", "fix")
    val eCow = intercept[Exception] {
      s.sql("DELETE FROM graft.snap.bm WHERE k = 1") }
    assert(eCow.getMessage.contains("delete.mode=mor"), eCow.getMessage)
    s.conf.unset("spark.sql.catalog.graft.snap.bm.deleteMode")
    s.conf.unset("spark.graft.wap.branch")

    // PUBLISH: one 'merge' epoch carrying the staged dvs + adds
    val pub = s.sql("CALL graft.sys.fast_forward('bm', 'fix')")
      .collect().head
    val pubV = pub.getLong(0)
    assert(s.sql("SELECT k, v FROM graft.snap.bm ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (3L, "c"), (10L, "y")),
      "main shows the audited state exactly once after publish")
    // the feed labels the publish 'merge': net delete + insert at pubV
    val feed = graft.sources.ChangeFeed.tableChanges(s, log,
      pubV - 1, Some(pubV)).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(feed == Set((2L, "delete"), (10L, "insert")),
      s"publish serves net change rows at the publish version: $feed")

    // RACE PIN: a main MOR delete between stage and publish refuses
    s.sql("CALL graft.sys.create_branch('bm', 'race')").collect()
    s.conf.set("spark.graft.wap.branch", "race")
    s.sql("DELETE FROM graft.snap.bm WHERE k = 3")   // staged dv
    s.conf.unset("spark.graft.wap.branch")
    s.conf.set("spark.sql.catalog.graft.snap.bm.deleteMode", "mor")
    s.sql("DELETE FROM graft.snap.bm WHERE k = 1")   // main dv moved
    s.conf.unset("spark.sql.catalog.graft.snap.bm.deleteMode")
    val eRace = intercept[Exception] {
      s.sql("CALL graft.sys.fast_forward('bm', 'race')").collect() }
    assert(eRace.getMessage.contains("landed after") ||
      eRace.getMessage.contains("no longer fast-forwards"),
      eRace.getMessage)
    assert(s.sql("SELECT k FROM graft.snap.bm ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(3L, 10L),
      "main: its own delete applied, the staged one still invisible")

    // DROP the branch: its dv files become unreferenced and vacuum out
    val dataDir = root.resolve("bm").resolve("data")
    import scala.jdk.CollectionConverters._
    def files(): Set[String] = {
      val l = java.nio.file.Files.list(dataDir)
      try l.iterator().asScala.map(_.getFileName.toString).toSet
      finally l.close()
    }
    val beforeDrop = files()
    s.sql("CALL graft.sys.drop_branch('bm', 'race')").collect()
    (1 to 12).foreach(i =>  // sweeps absorb the dropped branch's epochs
      s.sql(s"INSERT INTO graft.snap.bm VALUES (${100 + i}, 'f')"))
    val reclaimed = graft.sources.ManifestSink.vacuum(log, 0L)
    assert(reclaimed.nonEmpty &&
      reclaimed.toSet.subsetOf(beforeDrop),
      s"the dropped branch's staged dv file ages out: $reclaimed")
    assert(s.sql("SELECT count(*) FROM graft.snap.bm").head().getLong(0)
      == 2 + 12, "main rows intact after the reclaim")
    graft.util.Fs.deleteRecursively(root)
  }

  test("ARRAY COLUMNS + ELEMENT EVOLUTION (round 18): array<struct> " +
    "and array<primitive> columns write/read through both paths " +
    "(parquet delegate + the sink's group reader); RENAME/DROP of " +
    "element struct fields via dotted #colmap (zero bytes moved), " +
    "element WIDENING and element ADD via one #schema epoch, " +
    "pre-evolution files served (missing element field -> null, " +
    "narrow element promotes), map columns and map evolution refuse") {
    val root = Files.createTempDirectory("graft_arr_evolve")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    s.sql("""CREATE TABLE graft.snap.ae (doc_id BIGINT,
            |  spans ARRAY<STRUCT<tok: STRING, score: INT, junk: STRING>>,
            |  weights ARRAY<INT>)""".stripMargin)
    s.sql("INSERT INTO graft.snap.ae VALUES " +
      "(1, array(named_struct('tok', 'a', 'score', 10, 'junk', 'x'), " +
      "named_struct('tok', 'b', 'score', 20, 'junk', 'y')), " +
      "array(1, 2)), " +
      "(2, array(named_struct('tok', 'c', 'score', 30, 'junk', 'z')), " +
      "array(3))")
    val filesBefore = graft.sources.ManifestSink
      .committedFiles(root.resolve("ae").toString).toSet

    // plain round-trip through the delegate first
    assert(s.sql("SELECT doc_id, spans[0].tok, weights[0] " +
      "FROM graft.snap.ae ORDER BY doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq ==
      Seq((1L, "a", 1), (2L, "c", 3)))

    // ELEMENT evolution: rename + drop + widen + add, zero bytes moved
    s.sql("ALTER TABLE graft.snap.ae RENAME COLUMN spans.element.tok " +
      "TO token")
    s.sql("ALTER TABLE graft.snap.ae DROP COLUMN spans.element.junk")
    s.sql("ALTER TABLE graft.snap.ae ALTER COLUMN spans.element.score " +
      "TYPE BIGINT")
    s.sql("ALTER TABLE graft.snap.ae ADD COLUMN spans.element.extra BIGINT")
    // primitive element widening too
    s.sql("ALTER TABLE graft.snap.ae ALTER COLUMN weights.element " +
      "TYPE BIGINT")
    assert(graft.sources.ManifestSink
      .committedFiles(root.resolve("ae").toString).toSet == filesBefore,
      "array element evolution moves zero data files")
    val served = s.table("graft.snap.ae").schema("spans").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(served.fieldNames.toSeq == Seq("token", "score", "extra") &&
      served("score").dataType.typeName == "long", served.toDDL)
    assert(s.table("graft.snap.ae").schema("weights").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.typeName == "long")

    // post-evolution write under the NEW logical names; out-of-int
    // values prove both widened leaves
    s.sql("INSERT INTO graft.snap.ae VALUES " +
      "(3, array(named_struct('token', 'd', 'score', 9000000000, " +
      "'extra', 7)), array(8000000000))")
    val all = s.sql(
      """SELECT doc_id, s.token, s.score,
        |  coalesce(s.extra, -1) AS extra, w
        |FROM graft.snap.ae
        |LATERAL VIEW explode(spans) AS s
        |LATERAL VIEW explode(weights) AS w
        |ORDER BY doc_id, s.token, w""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(all.toSeq == Seq(
      (1L, "a", 10L, -1L, 1L), (1L, "a", 10L, -1L, 2L),
      (1L, "b", 20L, -1L, 1L), (1L, "b", 20L, -1L, 2L),
      (2L, "c", 30L, -1L, 3L),
      (3L, "d", 9000000000L, 7L, 8000000000L)),
      s"old files promote+null-fill inside elements: ${all.toSeq}")
    // the dropped element field is gone from the face entirely
    val eDropped = intercept[Exception] {
      s.sql("SELECT spans[0].junk FROM graft.snap.ae").collect() }
    assert(eDropped.getMessage.contains("junk"), eDropped.getMessage)

    // the SINK'S OWN group reader agrees: a MOR delete forces the
    // dv-scan path, arrays served with the same evolution contracts
    s.conf.set("spark.sql.catalog.graft.snap.ae.deleteMode", "mor")
    s.sql("DELETE FROM graft.snap.ae WHERE doc_id = 2")
    val after = s.sql(
      """SELECT doc_id, spans[0].token, spans[0].score, weights[0]
        |FROM graft.snap.ae ORDER BY doc_id""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(after.toSeq == Seq((1L, "a", 10L, 1L),
      (3L, "d", 9000000000L, 8000000000L)), after.toSeq)
    // ... and through the .changes face (epoch 1: pre-evolution bytes)
    val cf = s.read.option("sinceVersion", "0").option("asOfVersion", "1")
      .table("graft.snap.ae.changes")
    val cfElem = cf.schema("spans").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(cfElem.fieldNames.toSeq == Seq("token", "score", "extra"),
      s"the .changes face logicalizes element names: ${cfElem.toDDL}")
    val cfRows = cf.selectExpr("doc_id", "spans[0].token",
      "spans[0].score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(cfRows == Set((1L, "a", 10L), (2L, "c", 30L)), cfRows)
    // the ChangeFeed API path logicalizes + transforms elements too
    val api = graft.sources.ChangeFeed.tableChanges(s,
      root.resolve("ae").toString, 0, Some(1L))
      .selectExpr("doc_id", "spans[1].token", "size(spans)").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1), r.getInt(2))).toSet
    assert(api == Set((1L, "b", 2), (2L, null, 1)), api)

    // refusals: composite map keys, narrowing, depth
    val eMapKey = intercept[Exception] {
      s.sql("CREATE TABLE graft.snap.aem " +
        "(k BIGINT, m MAP<ARRAY<INT>, INT>)") }
    assert(eMapKey.getMessage.contains("PRIMITIVE map keys"),
      eMapKey.getMessage)
    val eNarrow = intercept[Exception] {
      s.sql("ALTER TABLE graft.snap.ae ALTER COLUMN weights.element " +
        "TYPE INT") }
    assert(eNarrow.getMessage.contains("WIDENING") ||
      eNarrow.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"),
      eNarrow.getMessage)
    val eDeep = intercept[Exception] {
      s.sql("ALTER TABLE graft.snap.ae RENAME COLUMN " +
        "spans.element.score.x TO y") }
    assert(eDeep.getMessage.contains("ONE level") ||
      eDeep.getMessage.contains("element") ||
      eDeep.getMessage.contains("struct"), eDeep.getMessage)
    graft.util.Fs.deleteRecursively(root)
  }

  test("STREAMING WRITES stage on WAP branches (round 18): a stream's " +
    "#forbranch epochs are invisible to main and audit on the branch " +
    "face, fast_forward publishes them exactly once AND carries the " +
    "per-writer #txn watermarks — a post-publish engine-epoch replay " +
    "is discarded (its file cleaned) even after sweeps absorb the " +
    "dropped branch epochs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = Files.createTempDirectory("graft_swap")
    val ckpt = Files.createTempDirectory("graft_swap_ck").toString
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    val log = root.resolve("sw").toString
    s.sql("CREATE TABLE graft.snap.sw (k BIGINT, name STRING)")
    s.sql("INSERT INTO graft.snap.sw VALUES (1, 'm')")           // epoch 1
    s.sql("CALL graft.sys.create_branch('sw', 'live')").collect() // epoch 2
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val prevActive = org.apache.spark.sql.SparkSession.getActiveSession
    org.apache.spark.sql.SparkSession.setActiveSession(s)
    s.conf.set("spark.graft.wap.branch", "live")
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("k", "name")
      .writeStream.option("checkpointLocation", ckpt)
      .toTable("graft.snap.sw")
    try {
      in.addData((2L, "a")); q.processAllAvailable()
      in.addData((3L, "b")); q.processAllAvailable()
      q.stop()
    } finally {
      try q.stop() catch { case _: Exception => }
      s.conf.unset("spark.graft.wap.branch")
      prevActive match {
        case Some(p) => org.apache.spark.sql.SparkSession.setActiveSession(p)
        case None => org.apache.spark.sql.SparkSession.clearActiveSession()
      }
    }
    // staged: invisible to main, audited on the branch face
    assert(s.sql("SELECT k FROM graft.snap.sw ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L),
      "streamed staged rows invisible to main")
    assert(s.sql("SELECT k FROM graft.snap.sw VERSION AS OF 'live' " +
      "ORDER BY k").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))

    // PUBLISH: exactly once, and the watermark rides along
    val pub = s.sql("CALL graft.sys.fast_forward('sw', 'live')")
      .collect().head
    assert(pub.getLong(1) == 2L && pub.getLong(2) == 2L, pub)
    assert(s.sql("SELECT k FROM graft.snap.sw ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L), "published exactly once")

    // REPLAY after publish: a restarted run (same stable writer id,
    // fresh run token) re-commits engine epoch 1 — the carried #txn
    // watermark discards it and cleans its task file
    val writerId = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(root.resolve("sw")).iterator().asScala
        .filter(_.getFileName.toString.startsWith("epoch-"))
        .flatMap(p => java.nio.file.Files.readAllLines(p).asScala)
        .collectFirst { case l if l.startsWith("#txn ") =>
          l.split(" ")(1) }.get
    }
    // force sweeps so the DROPPED branch epochs (and their #txn
    // records) are absorbed — only the publish-carried watermark
    // protects the replay now
    (1 to 12).foreach(i =>
      s.sql(s"INSERT INTO graft.snap.sw VALUES (${100 + i}, 'f')"))
    assert(graft.sources.ManifestSink.compactionHorizon(log) > pub.getLong(0),
      "the sweep absorbed the staged epochs")
    val vBefore = graft.sources.ManifestSink.newestVersion(log)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType)))
    val replay = graft.sources.ManifestStreamingWrite(log, schema,
      1000, writerId, "rerun")
    val w = graft.sources.ManifestWriters.create(log,
      Array("k", "name"), Array("long", "string"), "replay-rerun.parquet")
    w.write(org.apache.spark.sql.catalyst.InternalRow(99L,
      org.apache.spark.unsafe.types.UTF8String.fromString("dup")))
    replay.commit(1L, Array(w.commit()))
    assert(graft.sources.ManifestSink.newestVersion(log) == vBefore,
      "the replayed engine epoch publishes nothing")
    assert(!java.nio.file.Files.exists(
      root.resolve("sw").resolve("data").resolve("replay-rerun.parquet")),
      "the replay's task file is cleaned")
    assert(s.sql("SELECT count(*) FROM graft.snap.sw").head().getLong(0)
      == 3 + 12, "no duplicate rows after the replay")
    graft.util.Fs.deleteRecursively(root)
  }

  test("KEEP-MODE ROW-GROUP SKIPPING (round 18): a change-feed " +
    "pre-image read of a few positions in a multi-row-group file " +
    "decodes only the groups holding them (O(changed rows), not " +
    "O(file)); skip-mode dv reads still decode every group; values " +
    "stay exact; rowgroup.bytes is validated") {
    val root = Files.createTempDirectory("graft_rgskip")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    // tiny row groups: 10k rows land in MANY groups (64 KiB floor)
    s.sql("""CREATE TABLE graft.snap.rg (k BIGINT, v STRING)
            |TBLPROPERTIES ('rowgroup.bytes'='65536',
            |  'delete.mode'='mor')""".stripMargin)
    locally { import s.implicits._
      (0L until 10000L).map(i => (i, s"val-$i-" + "x" * 64)).toDF("k", "v")
        .coalesce(1).writeTo("graft.snap.rg").append()           // epoch 1
    }
    val dataDir = root.resolve("rg").resolve("data")
    import scala.jdk.CollectionConverters._
    val dataFile = {
      val l = java.nio.file.Files.list(dataDir)
      try l.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toSeq.head
      finally l.close()
    }
    val nGroups = {
      val fr = org.apache.parquet.hadoop.ParquetFileReader.open(
        new org.apache.parquet.io.LocalInputFile(
          java.nio.file.Paths.get(dataFile)))
      try fr.getFooter.getBlocks.size finally fr.close()
    }
    assert(nGroups >= 5, s"need many row groups for the pin: $nGroups")
    val rowsPerGroup = 10000.0 / nGroups

    // MOR-delete TWO adjacent rows -> the pre-image read targets one
    // (or two) group's worth of ordinals
    s.sql("DELETE FROM graft.snap.rg WHERE k IN (7001, 7002)") // epoch 2
    val before = graft.sources.ManifestReadFactory.rowsDecoded.get()
    // the .changes FACE plans KEEP-mode partitions through the sink's
    // own group reader — the path the skipping serves
    val pre = s.read.option("sinceVersion", "1")
      .option("asOfVersion", "2").table("graft.snap.rg.changes")
      .select("k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val decoded = graft.sources.ManifestReadFactory.rowsDecoded.get() - before
    assert(pre == Set((7001L, "delete"), (7002L, "delete")), pre)
    assert(decoded > 0 && decoded <= 3 * rowsPerGroup.toLong + 64,
      s"pre-image read decodes O(holding groups), not O(file): " +
        s"$decoded of 10000 rows ($nGroups groups)")

    // skip-mode (the dv-applying table read) still serves EVERY
    // surviving row — no group can be skipped there (count(*) rides
    // the zero-column fast path, so probe with a value column)
    val b2 = graft.sources.ManifestReadFactory.rowsDecoded.get()
    assert(s.sql("SELECT sum(k) FROM graft.snap.rg").head().getLong(0)
      == (0L until 10000L).sum - 7001L - 7002L)
    assert(graft.sources.ManifestReadFactory.rowsDecoded.get() - b2 >= 9998L,
      "the dv-applying read decodes the full file (skip mode)")

    // property validation
    val eRg = intercept[Exception] {
      s.sql("CREATE TABLE graft.snap.rgbad (k BIGINT) " +
        "TBLPROPERTIES ('rowgroup.bytes'='7')") }
    assert(eRg.getMessage.contains("rowgroup.bytes"), eRg.getMessage)
    graft.util.Fs.deleteRecursively(root)
  }

  test("MAP COLUMNS + VALUE EVOLUTION (round 18): map<primitive, " +
    "primitive|struct> columns write/read through both paths; " +
    "RENAME/DROP of value struct fields via dotted #colmap " +
    "(col.value.field, zero bytes moved), value WIDENING (struct " +
    "fields and primitive values) and value ADD via one #schema " +
    "epoch, pre-evolution files promoted + null-filled inside " +
    "values; map KEYS are identity (composite keys and key evolution " +
    "refuse)") {
    val root = Files.createTempDirectory("graft_map_evolve")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    s.sql("""CREATE TABLE graft.snap.me (doc_id BIGINT,
            |  attrs MAP<STRING, STRUCT<score: INT, junk: STRING>>,
            |  counts MAP<STRING, INT>)""".stripMargin)
    s.sql("INSERT INTO graft.snap.me VALUES " +
      "(1, map('a', named_struct('score', 10, 'junk', 'x'), " +
      "'b', named_struct('score', 20, 'junk', 'y')), map('k', 5)), " +
      "(2, map('c', named_struct('score', 30, 'junk', 'z')), " +
      "map('k', 7, 'm', 9))")
    val filesBefore = graft.sources.ManifestSink
      .committedFiles(root.resolve("me").toString).toSet

    // plain round-trip through the delegate
    assert(s.sql("SELECT doc_id, attrs['a'].score, counts['k'] " +
      "FROM graft.snap.me ORDER BY doc_id").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1 else r.getInt(1), r.getInt(2))).toSeq ==
      Seq((1L, 10, 5), (2L, -1, 7)))

    // VALUE evolution: rename + drop + widen + add, zero bytes moved
    s.sql("ALTER TABLE graft.snap.me RENAME COLUMN attrs.value.score " +
      "TO points")
    s.sql("ALTER TABLE graft.snap.me DROP COLUMN attrs.value.junk")
    s.sql("ALTER TABLE graft.snap.me ALTER COLUMN attrs.value.points " +
      "TYPE BIGINT")
    s.sql("ALTER TABLE graft.snap.me ADD COLUMN attrs.value.extra BIGINT")
    s.sql("ALTER TABLE graft.snap.me ALTER COLUMN counts.value TYPE BIGINT")
    assert(graft.sources.ManifestSink
      .committedFiles(root.resolve("me").toString).toSet == filesBefore,
      "map value evolution moves zero data files")
    val served = s.table("graft.snap.me").schema("attrs").dataType
      .asInstanceOf[org.apache.spark.sql.types.MapType].valueType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(served.fieldNames.toSeq == Seq("points", "extra") &&
      served("points").dataType.typeName == "long", served.toDDL)

    // post-evolution write under the new names; wide values prove both
    s.sql("INSERT INTO graft.snap.me VALUES " +
      "(3, map('d', named_struct('points', 9000000000, 'extra', 7)), " +
      "map('k', 8000000000))")
    val all = s.sql(
      """SELECT doc_id, k, v.points, coalesce(v.extra, -1) AS extra
        |FROM graft.snap.me
        |LATERAL VIEW explode(attrs) AS k, v
        |ORDER BY doc_id, k""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(all.toSeq == Seq(
      (1L, "a", 10L, -1L), (1L, "b", 20L, -1L), (2L, "c", 30L, -1L),
      (3L, "d", 9000000000L, 7L)),
      s"old files promote+null-fill inside map values: ${all.toSeq}")
    assert(s.sql("SELECT sum(counts['k']) FROM graft.snap.me")
      .head().getLong(0) == 5L + 7L + 8000000000L,
      "primitive map values promote")
    // the dropped value field is gone from the face
    val eDropped = intercept[Exception] {
      s.sql("SELECT attrs['a'].junk FROM graft.snap.me").collect() }
    assert(eDropped.getMessage.contains("junk"), eDropped.getMessage)

    // the SINK'S OWN group reader agrees (MOR delete -> dv-scan path)
    s.conf.set("spark.sql.catalog.graft.snap.me.deleteMode", "mor")
    s.sql("DELETE FROM graft.snap.me WHERE doc_id = 2")
    assert(s.sql(
      """SELECT doc_id, attrs['a'].points, counts['k']
        |FROM graft.snap.me WHERE doc_id = 1""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 10L, 5L)))
    // ... and the .changes face serves the LOGICAL value shape
    val cfVal = s.table("graft.snap.me.changes").schema("attrs")
      .dataType.asInstanceOf[org.apache.spark.sql.types.MapType]
      .valueType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(cfVal.fieldNames.toSeq == Seq("points", "extra"),
      s"the .changes face logicalizes map value names: ${cfVal.toDDL}")
    val cfRows = s.read.option("sinceVersion", "0")
      .option("asOfVersion", "1").table("graft.snap.me.changes")
      .selectExpr("doc_id", "attrs['a'].points").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(cfRows == Set((1L, 10L), (2L, -1L)), cfRows)
    // the ChangeFeed API path rebuilds values via transform_values
    val api = graft.sources.ChangeFeed.tableChanges(s,
      root.resolve("me").toString, 0, Some(1L))
      .selectExpr("doc_id", "attrs['b'].points").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(api == Set((1L, 20L), (2L, -1L)), api)

    // refusals: KEY evolution, key widening, composite keys
    val eKey = intercept[Exception] {
      s.sql("ALTER TABLE graft.snap.me ALTER COLUMN counts.key " +
        "TYPE BIGINT") }
    assert(eKey.getMessage.contains("map STRUCT values") ||
      eKey.getMessage.contains("identity") ||
      eKey.getMessage.contains("not supported"), eKey.getMessage)
    graft.util.Fs.deleteRecursively(root)
  }

  test("CDC MERGE PAIRING (round 18): a MOR MERGE's matched updates " +
    "serve update_pre/postimage via #cdc role tags while its pure " +
    "deletes/inserts keep net labels; stripping the tags (the pre-r18 " +
    "epoch shape) falls back to the documented net delete+insert") {
    val root = Files.createTempDirectory("graft_cdcmerge")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    val log = root.resolve("cm").toString
    s.sql("""CREATE TABLE graft.snap.cm (k BIGINT, v STRING)
            |TBLPROPERTIES ('delete.mode'='mor')""".stripMargin)
    locally { import s.implicits._
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v")
        .coalesce(1).writeTo("graft.snap.cm").append()           // epoch 1
      Seq((2L, "B"), (4L, "D"), (9L, "i")).toDF("k", "v")
        .createOrReplaceTempView("cm_src")
    }
    s.sql(
      """MERGE INTO graft.snap.cm t USING cm_src s ON t.k = s.k
        |WHEN MATCHED AND s.k = 4 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)          // epoch 2
    def feed(): Set[(Long, String, String)] =
      graft.sources.ChangeFeed.tableChanges(s, log, 1, Some(2L))
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getString(2))).toSet
    assert(feed() == Set(
      (2L, "b", "update_preimage"), (2L, "B", "update_postimage"),
      (4L, "d", "delete"), (9L, "i", "insert")),
      s"each MERGE clause under its own label: ${feed()}")
    // the .changes face agrees (roles applied per planned partition)
    val face = s.read.option("sinceVersion", "1")
      .option("asOfVersion", "2").table("graft.snap.cm.changes")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2))).toSet
    assert(face == feed(), s"face/API parity: $face")
    // the table itself reads correctly after the merge
    assert(s.sql("SELECT k, v FROM graft.snap.cm ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "B"), (3L, "c"), (9L, "i")))

    // PRE-r18 FALLBACK: strip the #cdc tags from the merge epoch (the
    // exact shape an old log carries) -> net delete+insert, documented
    import scala.jdk.CollectionConverters._
    val e2 = java.nio.file.Files.list(root.resolve("cm"))
      .iterator().asScala.filter(_.getFileName.toString.startsWith("epoch-"))
      .toSeq.sortBy(_.getFileName.toString).last
    val stripped = java.nio.file.Files.readAllLines(e2).asScala
      .filterNot(_.startsWith("#cdc "))
    java.nio.file.Files.write(e2, stripped.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(feed() == Set(
      (2L, "b", "delete"), (2L, "B", "insert"),
      (4L, "d", "delete"), (9L, "i", "insert")),
      s"role-less merge epochs keep the net-effect fallback: ${feed()}")
    graft.util.Fs.deleteRecursively(root)
  }

  test("STAGED OVERWRITE on a WAP branch (round 19): overwrites stage " +
    "against the BRANCH's visible state (a staged overwrite cancels an " +
    "earlier staged add), the audit face serves the replaced state " +
    "while main is untouched, fast_forward replays removes+adds as ONE " +
    "overwrite epoch (feed = full replacement of the removed files), " +
    "a main write after the fork still refuses the publish, and a " +
    "dropped branch's staged overwrite never touches main") {
    val root = Files.createTempDirectory("graft_wapow")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    val log = root.resolve("wov").toString
    s.sql("""CREATE TABLE graft.snap.wov (k BIGINT, lang STRING)
            |PARTITIONED BY (lang)""".stripMargin)
    s.sql("INSERT INTO graft.snap.wov VALUES (1, 'de'), (2, 'es')") // ep 1
    s.sql("CALL graft.sys.create_branch('wov', 'bf')").collect()    // ep 2
    s.conf.set("spark.graft.wap.branch", "bf")
    s.sql("INSERT INTO graft.snap.wov VALUES (3, 'es')")     // staged ep 3
    // the staged filtered overwrite removes BOTH the main es file and
    // the branch's own staged es add — derived from BRANCH state
    s.sql("INSERT OVERWRITE graft.snap.wov PARTITION (lang = 'es') " +
      "VALUES (20)")                                         // staged ep 4
    s.conf.unset("spark.graft.wap.branch")
    // audit face: the replaced partition; main: untouched
    assert(s.sql("SELECT k FROM graft.snap.wov VERSION AS OF 'bf' " +
      "ORDER BY k").collect().map(_.getLong(0)).toSeq == Seq(1L, 20L),
      "the branch face serves the staged replacement")
    assert(s.sql("SELECT k FROM graft.snap.wov ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L),
      "main is untouched while the overwrite is staged")

    val pub = s.sql("CALL graft.sys.fast_forward('wov', 'bf')")
      .collect().head
    assert(s.sql("SELECT k FROM graft.snap.wov ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 20L),
      "the publish flips the backfill into main atomically")
    val pubV = graft.sources.ManifestSink.newestVersion(log)
    val pubDelta = graft.sources.ManifestSink
      .epochDeltas(log, pubV - 1, pubV).head
    assert(pubDelta.op == "overwrite" && pubDelta.removes.size == 1 &&
      pubDelta.adds.size == 1,
      s"ONE overwrite epoch: op=${pubDelta.op} " +
        s"removes=${pubDelta.removes.size} adds=${pubDelta.adds.size} " +
        s"(the cancelled staged add published nothing)")
    // the change feed serves the publish as full replacement of the
    // removed file: (2, es) deleted, (20, es) inserted — the cancelled
    // staged add's row (3, es) appears NOWHERE (never visible to main)
    val feed = graft.sources.ChangeFeed
      .tableChanges(s, log, pubV - 1, Some(pubV)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(feed == Set((2L, "es", "delete"), (20L, "es", "insert")),
      s"publish feed = full replacement of the removed files: $feed")

    // MAIN-WRITE RACE: a main data epoch after the fork refuses the
    // publish of a staged overwrite, same as staged appends
    s.sql("CALL graft.sys.create_branch('wov', 'race')").collect()
    s.conf.set("spark.graft.wap.branch", "race")
    s.sql("INSERT OVERWRITE graft.snap.wov PARTITION (lang = 'de') " +
      "VALUES (30)")
    s.conf.unset("spark.graft.wap.branch")
    s.sql("INSERT INTO graft.snap.wov VALUES (5, 'fr')") // main moved
    val eRace = intercept[Exception] {
      s.sql("CALL graft.sys.fast_forward('wov', 'race')").collect() }
    assert(eRace.getMessage.contains("no longer fast-forwards"),
      eRace.getMessage)
    // ... and dropping the branch abandons the staged overwrite whole:
    // main keeps both the de row it would have replaced and the fr row
    s.sql("CALL graft.sys.drop_branch('wov', 'race')").collect()
    assert(s.sql("SELECT k FROM graft.snap.wov ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 5L, 20L),
      "a dropped staged overwrite never touches main")
    graft.util.Fs.deleteRecursively(root)
  }

  test("EQUALITY DELETES (round 19): an #eqdel epoch deletes by key " +
    "from every EARLIER epoch only (its own appends are exempt — the " +
    "sequence rule), reads apply the key anti-sets on the current and " +
    "time-travel faces, sweeps clamp below live records, COW/MOR/" +
    "rollback refuse until compact_data resolves them (#eqdrop), " +
    "resolution is value-invisible, and the feed serves upsert epochs " +
    "as exact deletes + inserts") {
    val root = Files.createTempDirectory("graft_eqdel")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    val log = root.resolve("eq").toString
    s.sql("""CREATE TABLE graft.snap.eq (k BIGINT, v STRING)
            |TBLPROPERTIES ('compact.interval'='4')""".stripMargin)
    s.sql("INSERT INTO graft.snap.eq VALUES (1, 'a'), (2, 'b')") // ep 1
    // keyed-upsert epochs through the streaming sink face (the same
    // path q_stream_eq_upsert drives through the engine), no target
    // read anywhere
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, v STRING")
    def upsert(engineEpoch: Long, rows: (Long, String)*): Unit = {
      val w = graft.sources.ManifestStreamingWrite(log, schema, 4,
        "eqwriter", s"run$engineEpoch", upsertKeys = Seq("k"))
      val dw = w.createStreamingWriterFactory(null)
        .createWriter(0, 0L, engineEpoch)
      rows.foreach { case (k, v) =>
        dw.write(org.apache.spark.sql.catalyst.InternalRow(k,
          org.apache.spark.unsafe.types.UTF8String.fromString(v)))
      }
      w.commit(engineEpoch, Array(dw.commit()))
    }
    upsert(0L, (2L, "B"), (9L, "i"))                             // ep 2
    def state(suffix: String = ""): Set[(Long, String)] =
      s.sql(s"SELECT k, v FROM graft.snap.eq $suffix").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(state() == Set((1L, "a"), (2L, "B"), (9L, "i")),
      s"key 2's old row deleted, the epoch's own rows exempt: ${state()}")
    upsert(1L, (9L, "I"))                                        // ep 3
    assert(state() == Set((1L, "a"), (2L, "B"), (9L, "I")),
      s"the second upsert re-keys 9 (sequence rule): ${state()}")
    // TIME TRAVEL applies the records as of the version
    assert(state("VERSION AS OF 2") == Set((1L, "a"), (2L, "B"), (9L, "i")))
    assert(state("VERSION AS OF 1") == Set((1L, "a"), (2L, "b")))
    // history classifies the epochs
    assert(s.sql("SELECT version FROM graft.snap.eq.history " +
      "WHERE kind = 'upsert'").collect().map(_.getLong(0)).toSet ==
      Set(2L, 3L))
    // the CDC feed serves exact deletes + inserts per upsert epoch
    def feed(since: Long, until: Long): Set[(Long, Long, String, String)] =
      graft.sources.ChangeFeed.tableChanges(s, log, since, Some(until))
        .selectExpr("_commit_version", "k", "v", "_change_type")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getString(3))).toSet
    assert(feed(1, 3) == Set(
      (2L, 2L, "b", "delete"), (2L, 2L, "B", "insert"),
      (2L, 9L, "i", "insert"),
      (3L, 9L, "i", "delete"), (3L, 9L, "I", "insert")),
      s"upsert epochs serve delete-by-key + insert: ${feed(1, 3)}")
    // the per-file .changes face refuses (a key anti-join is not a
    // per-file read) unless ignoreChanges re-delivers adds
    val eFace = intercept[Exception] {
      s.read.option("sinceVersion", "1").option("asOfVersion", "2")
        .table("graft.snap.eq.changes").collect() }
    assert(eFace.getMessage.contains("equality-delete"), eFace.getMessage)
    // COW/MOR row-level ops and rollback refuse while records are live
    val eUpd = intercept[Exception] {
      s.sql("UPDATE graft.snap.eq SET v = 'x' WHERE k = 1") }
    assert(eUpd.getMessage.contains("equality deletes"), eUpd.getMessage)
    val eDel = intercept[Exception] {
      s.sql("DELETE FROM graft.snap.eq WHERE k = 1") }
    assert(eDel.getMessage.contains("equality deletes"), eDel.getMessage)
    val eRb = intercept[Exception] {
      s.sql("CALL graft.sys.rollback('eq', 1)").collect() }
    assert(eRb.getMessage.contains("equality deletes"), eRb.getMessage)
    // SWEEPS CLAMP below the oldest live record (interval 4): five
    // more appends would normally compact, but the horizon must stay
    // below epoch 2
    (1 to 5).foreach(i =>
      s.sql(s"INSERT INTO graft.snap.eq VALUES (${100 + i}, 'z')"))
    assert(graft.sources.ManifestSink.compactionHorizon(log) < 2L,
      s"sweeps clamp below live eqdels: " +
        s"${graft.sources.ManifestSink.compactionHorizon(log)}")
    // RESOLUTION: compact_data anti-joins the keys out, publishes
    // #eqdrop, and the table returns to plain files — value-invisible
    val before = state()
    s.sql("CALL graft.sys.compact_data('eq', 1000000)").collect()
    assert(graft.sources.ManifestSink.equalityDeletes(log).isEmpty,
      "compact_data resolves every live record")
    assert(state() == before, "resolution is value-invisible")
    // ... the refusals lift ...
    s.sql("UPDATE graft.snap.eq SET v = 'x' WHERE k = 1")
    assert(state().contains((1L, "x")))
    // ... and the sweep is free again (the update + appends push the
    // horizon past the old clamp)
    assert(graft.sources.ManifestSink.compactionHorizon(log) >= 2L,
      s"resolution releases the sweep clamp: " +
        s"${graft.sources.ManifestSink.compactionHorizon(log)}")
    graft.util.Fs.deleteRecursively(root)
  }

  test("READ-PATH PARITY: a merge-on-read table with a struct, an " +
    "array<struct>, a map, an int->bigint widened column, an added " +
    "column, live dvs and a live equality delete serves through " +
    "ManifestReadFactory (with _pos/_row_id) exactly the rows the " +
    "parquet delegate serves after compact_data") {
    val root = Files.createTempDirectory("graft_read_parity")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    val log = root.resolve("par").toString
    s.sql("""CREATE TABLE graft.snap.par (k INT,
            |  s STRUCT<a: BIGINT, b: STRING>,
            |  arr ARRAY<STRUCT<x: BIGINT, y: STRING>>,
            |  m MAP<STRING, BIGINT>)
            |TBLPROPERTIES ('delete.mode'='mor')""".stripMargin)
    // narrow era: these files store k as INT and lack `w`
    s.sql("""INSERT INTO graft.snap.par SELECT CAST(id AS INT),
            |  named_struct('a', id * 10,
            |    'b', IF(id % 3 = 0, NULL, concat('b', id))),
            |  IF(id % 4 = 0, NULL, array(named_struct('x', id, 'y', 'p'),
            |    named_struct('x', -id, 'y', CAST(NULL AS STRING)))),
            |  map('m', id, 'n', IF(id % 5 = 0, NULL, id + 1))
            |FROM range(0, 20)""".stripMargin)
    s.sql("ALTER TABLE graft.snap.par ALTER COLUMN k TYPE BIGINT")
    s.sql("ALTER TABLE graft.snap.par ADD COLUMN w STRING")
    s.sql("""INSERT INTO graft.snap.par SELECT id,
            |  named_struct('a', id * 10, 'b', concat('b', id)),
            |  array(named_struct('x', id, 'y', 'q')),
            |  map('m', id), concat('w', id)
            |FROM range(20, 30)""".stripMargin)
    s.sql("DELETE FROM graft.snap.par WHERE k IN (3, 17, 25)") // live dvs
    // a keyed upsert re-keys 5 (narrow-era file) and 22 (wide era): an
    // #eqdel whose BIGINT keys must match the narrow files' INT keys
    locally {
      def utf8(v: String) = org.apache.spark.unsafe.types.UTF8String
        .fromString(v)
      val w = graft.sources.ManifestStreamingWrite(log,
        s.table("graft.snap.par").schema, 100, "parwriter", "run0",
        upsertKeys = Seq("k"))
      val dw = w.createStreamingWriterFactory(null).createWriter(0, 0L, 0L)
      Seq(5L, 22L).foreach { k =>
        dw.write(org.apache.spark.sql.catalyst.InternalRow(k,
          org.apache.spark.sql.catalyst.InternalRow(k * 100, utf8("up")),
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            Array[Any](org.apache.spark.sql.catalyst.InternalRow(k,
              utf8("u")))),
          org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
            Array[Any](utf8("u")), Array[Any](k)),
          utf8("up")))
      }
      w.commit(0L, Array(dw.commit()))
    }
    assert(graft.sources.ManifestSink.equalityDeletes(log).nonEmpty &&
      graft.sources.ManifestSink.deleteVectors(log).nonEmpty)
    val cols = "k, s, arr, m, w"
    def read(q: String): (String, Seq[org.apache.spark.sql.Row]) = {
      val df = s.sql(q)
      (df.queryExecution.executedPlan.toString,
        df.collect().toSeq.sortBy(_.getLong(0)))
    }
    val (planLive, live) =
      read(s"SELECT $cols, _pos, _row_id FROM graft.snap.par")
    assert(planLive.contains("eq-delete-applying"), planLive)
    assert(live.map(_.getLong(0)) ==
      (0L until 30L).filterNot(Set(3L, 17L, 25L)), live.map(_.getLong(0)))
    assert(live.find(_.getLong(0) == 5L).get.getString(4) == "up" &&
      live.find(_.getLong(0) == 22L).get.getStruct(1).getLong(0) == 2200L,
      "the upserted rows replace the deleted keys")
    assert(live.forall(r => !r.isNullAt(5) && !r.isNullAt(6)) &&
      live.map(_.getLong(6)).distinct.size == live.size,
      "every row serves its ordinal and a distinct row id")

    s.sql("CALL graft.sys.compact_data('par', 1000000)").collect()
    assert(graft.sources.ManifestSink.equalityDeletes(log).isEmpty &&
      graft.sources.ManifestSink.deleteVectors(log).isEmpty,
      "compaction resolves every delete")
    val (planPlain, plain) = read(s"SELECT $cols FROM graft.snap.par")
    assert(!planPlain.contains("applying") &&
      !planPlain.contains("metadata-column"), planPlain)
    assert(plain ==
      live.map(r => org.apache.spark.sql.Row(r.toSeq.take(5): _*)),
      "the delegate serves exactly what the factory served")
    // row identity rides the rewrite: ids served after it match
    val (_, ids) = read(s"SELECT $cols, _row_id FROM graft.snap.par")
    assert(ids == live.map(r =>
      org.apache.spark.sql.Row(r.toSeq.take(5) :+ r.get(6): _*)))
    graft.util.Fs.deleteRecursively(root)
  }

  test("META-NAMED DATA COLUMNS: a table whose data columns are named " +
    "_change_type/_commit_version/_commit_timestamp (a change-feed " +
    "archive) serves and keeps its stored values through every " +
    "ManifestReadFactory read: live dvs, _file/_pos alongside, MoR " +
    "UPDATE, COW UPDATE of a dv'd file, compaction, and the path-face " +
    "stream tail") {
    val root = Files.createTempDirectory("graft_meta_named")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    s.sql("""CREATE TABLE graft.snap.arch (k BIGINT,
            |  _change_type STRING, _commit_version BIGINT,
            |  _commit_timestamp TIMESTAMP)
            |TBLPROPERTIES ('delete.mode'='mor')""".stripMargin)
    s.sql("""INSERT INTO graft.snap.arch SELECT id,
            |  IF(id % 2 = 0, 'insert', 'update_postimage'), id * 10 + 7,
            |  timestamp_seconds(1700000000 + id)
            |FROM range(0, 10, 1, 1)""".stripMargin) // one file
    // the stored values of the row first written with key `k0`
    def stored(k0: Long): Seq[Any] = Seq(
      if (k0 % 2 == 0) "insert" else "update_postimage", k0 * 10 + 7,
      1700000000L + k0)
    // the path-face tail serves the stored values too
    val tail = s.readStream.format("graft.sources.ManifestSink")
      .schema("k BIGINT, _change_type STRING, _commit_version BIGINT, " +
        "_commit_timestamp TIMESTAMP")
      .option("path", root.resolve("arch").toString).load()
      .selectExpr("k", "_change_type", "_commit_version",
        "unix_seconds(_commit_timestamp)")
      .writeStream.format("memory").queryName("arch_tail")
      .outputMode("append").start()
    try tail.processAllAvailable() finally tail.stop()
    assert(s.table("arch_tail").collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap ==
      (0L until 10L).map(k => k -> stored(k)).toMap, "stream tail")
    s.sql("DELETE FROM graft.snap.arch WHERE k = 3") // live dv
    val cols = "k, _change_type, _commit_version, " +
      "unix_seconds(_commit_timestamp)"
    def check(what: String, rekeyed: Map[Long, Long]): Unit = {
      val df = s.sql(s"SELECT $cols FROM graft.snap.arch")
      val got = df.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
      val want = (0L until 10L).filterNot(_ == 3L)
        .map(k0 => rekeyed.getOrElse(k0, k0) -> stored(k0)).toMap
      assert(got == want, s"$what\n" +
        df.queryExecution.executedPlan.toString)
    }
    check("dv-applying read", Map.empty)
    assert(s.sql(s"SELECT $cols FROM graft.snap.arch")
      .queryExecution.executedPlan.toString.contains("dv-applying"))
    val withMeta = s.sql("SELECT k, _commit_version, _file, _pos " +
      "FROM graft.snap.arch").collect()
    assert(withMeta.forall(r => r.getLong(1) == r.getLong(0) * 10 + 7 &&
      r.getString(2).endsWith(".parquet") && !r.isNullAt(3)),
      "metadata columns still serve beside the data columns: " +
        withMeta.toSeq)
    s.sql("UPDATE graft.snap.arch SET k = 105 WHERE k = 5") // position delta
    check("after a MoR UPDATE", Map(5L -> 105L))
    s.sql("ALTER TABLE graft.snap.arch SET TBLPROPERTIES " +
      "('delete.mode'='cow')")
    s.sql("UPDATE graft.snap.arch SET k = 1001 WHERE k = 1") // COW rewrite
    check("after a COW UPDATE", Map(5L -> 105L, 1L -> 1001L))
    s.sql("CALL graft.sys.compact_data('arch', 1000000)").collect()
    check("after compact_data (parquet delegate)",
      Map(5L -> 105L, 1L -> 1001L))
    graft.util.Fs.deleteRecursively(root)
  }

  test("ROW TRACKING (round 19): _row_id is stable across COW UPDATE " +
    "and compaction (materialized _graft_rowid), the CDC feed serves " +
    "COW MERGE and rollback as per-row PAIRED labels (#cdcpair), and " +
    "stripping the pair header (the pre-r19 epoch shape) falls back " +
    "to the documented multiset-diff net effect") {
    val root = Files.createTempDirectory("graft_rowtrack")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    val log = root.resolve("rt").toString
    s.sql("CREATE TABLE graft.snap.rt (k BIGINT, v STRING)")   // epoch 0
    locally { import s.implicits._
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v")
        .coalesce(1).writeTo("graft.snap.rt").append()         // epoch 1
    }
    def ids(): Map[Long, Long] =
      s.sql("SELECT k, _row_id FROM graft.snap.rt").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids1 = ids()
    assert(ids1.keySet == Set(1L, 2L, 3L, 4L) &&
      ids1.values.toSet.size == 4,
      s"a fresh append serves distinct non-null row ids: $ids1")
    // the append epoch assigned a base and bumped the watermark
    val e1 = Files.readAllLines(root.resolve("rt").resolve(epochName(1)))
      .asScala
    assert(e1.exists(_.startsWith("#rowid ")) &&
      e1.exists(_.startsWith("#rowidhwm ")),
      s"append epoch records #rowid + #rowidhwm: $e1")

    s.sql("UPDATE graft.snap.rt SET v = upper(v) WHERE k % 2 = 0") // ep 2
    assert(ids() == ids1,
      s"COW UPDATE preserves every row's identity: ${ids()} vs $ids1")
    def feed(since: Long, until: Long): Set[(Long, String, String)] =
      graft.sources.ChangeFeed.tableChanges(s, log, since, Some(until))
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getString(2))).toSet
    assert(feed(1, 2) == Set(
      (2L, "b", "update_preimage"), (2L, "B", "update_postimage"),
      (4L, "d", "update_preimage"), (4L, "D", "update_postimage")),
      s"paired COW UPDATE: only touched rows serve, per-row: ${feed(1, 2)}")

    // COW MERGE: each clause under its OWN label — the r18 MOR-merge
    // contract, now storage-strategy-invisible (ids pair the halves)
    locally { import s.implicits._
      Seq((2L, "x"), (4L, "nope"), (9L, "i")).toDF("k", "v")
        .createOrReplaceTempView("rt_src")
    }
    s.sql(
      """MERGE INTO graft.snap.rt t USING rt_src s ON t.k = s.k
        |WHEN MATCHED AND s.k = 4 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)        // epoch 3
    assert(feed(2, 3) == Set(
      (2L, "B", "update_preimage"), (2L, "x", "update_postimage"),
      (4L, "D", "delete"), (9L, "i", "insert")),
      s"paired COW MERGE serves per-clause labels: ${feed(2, 3)}")

    // ROLLBACK to the pre-merge snapshot: per-row paired REVERT —
    // the updated row serves update_pre/postimage (merged -> original),
    // the merge-deleted row comes back as insert, the merge-inserted
    // row leaves as delete; untouched rows serve nothing
    s.sql("CALL graft.sys.rollback('rt', 2)").collect()        // epoch 4
    assert(ids() == ids1, s"rollback restores the original identities")
    assert(feed(3, 4) == Set(
      (2L, "x", "update_preimage"), (2L, "B", "update_postimage"),
      (4L, "D", "insert"), (9L, "i", "delete")),
      s"paired rollback: ${feed(3, 4)}")

    // COMPACTION carries identity (materialized ids ride the rewrite):
    // a second small file makes the bin-pack worth it, then both files
    // rewrite into one — with every row's id intact
    locally { import s.implicits._
      Seq((7L, "g")).toDF("k", "v").coalesce(1)
        .writeTo("graft.snap.rt").append()                     // epoch 5
    }
    val ids5 = ids()
    assert(ids5.view.filterKeys(_ != 7L).toMap == ids1 &&
      ids5.contains(7L) && !ids1.values.toSet.contains(ids5(7L)),
      s"the new append takes a FRESH id: $ids5")
    s.sql("CALL graft.sys.compact_data('rt', 1000000)").collect() // ep 6
    assert(graft.sources.ManifestSink.committedFiles(log).size == 1,
      "the bin-pack really rewrote both files")
    assert(ids() == ids5, "compaction preserves every row's identity")
    assert(feed(5, 6).isEmpty, "a compact epoch is no row change")

    // PRE-r19 FALLBACK: strip #cdcpair from the merge epoch (exactly
    // what an old log carries) -> the multiset-diff net effect
    val e3 = root.resolve("rt").resolve(epochName(3))
    val stripped = Files.readAllLines(e3).asScala
      .filterNot(_.startsWith("#cdcpair"))
    Files.write(e3, stripped.mkString("\n")
      .getBytes(StandardCharsets.UTF_8))
    assert(feed(2, 3) == Set(
      (2L, "B", "delete"), (2L, "x", "insert"),
      (4L, "D", "delete"), (9L, "i", "insert")),
      s"pair-less COW merge keeps the diff fallback: ${feed(2, 3)}")
    graft.util.Fs.deleteRecursively(root)
  }

  test("CDC RETENTION RESERVATION (round 18): a registered feed " +
    "consumer's min_window clamps BOTH routine sweeps and " +
    "expire_snapshots (binding ref named 'feed:<consumer>'), the " +
    "reserved window stays feed-servable under heavy commits, and " +
    "unregistering lets the next sweep retire freely") {
    val root = Files.createTempDirectory("graft_feedres")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    val log = root.resolve("fr").toString
    s.sql("""CREATE TABLE graft.snap.fr (k BIGINT)
            |TBLPROPERTIES ('compact.interval'='4')""".stripMargin)
    val reg = s.sql("CALL graft.sys.register_feed('fr', 'etl', 6)")
      .collect().head
    assert((reg.getString(0), reg.getLong(1)) == (("etl", 6L)))

    // 14 inserts: routine sweeps fire every 4 loose epochs but must
    // clamp at newest - 6 — the consumer's window stays loose
    (1 to 14).foreach(i => s.sql(s"INSERT INTO graft.snap.fr VALUES ($i)"))
    val newest = graft.sources.ManifestSink.newestVersion(log)
    val horizon = graft.sources.ManifestSink.compactionHorizon(log)
    assert(horizon <= newest - 6,
      s"routine sweeps clamp at newest-6: horizon=$horizon newest=$newest")
    // a consumer lagging exactly min_window epochs still reads its feed
    val lagged = graft.sources.ChangeFeed.tableChanges(s, log, newest - 6)
      .collect()
    assert(lagged.length == 6, s"the reserved window serves: ${lagged.length}")

    // expire_snapshots: the reservation clamps and is NAMED
    val r1 = s.sql("CALL graft.sys.expire_snapshots('fr', 1)")
      .collect().head
    assert(r1.getString(2) == "feed:etl" && r1.getLong(0) == newest - 6,
      s"expiry clamps at the reservation: $r1")
    assert(graft.sources.ChangeFeed.tableChanges(s, log, newest - 6)
      .collect().length == 6, "still servable after the clamped expiry")

    // unregister: the same request now retires freely (the two
    // metadata epochs moved `newest` by 2)
    s.sql("CALL graft.sys.unregister_feed('fr', 'etl')").collect()
    val r2 = s.sql("CALL graft.sys.expire_snapshots('fr', 1)")
      .collect().head
    assert(r2.getString(2) == "none" &&
      r2.getLong(0) == graft.sources.ManifestSink.newestVersion(log) - 1,
      s"unregistered: expiry retires freely: $r2")
    val eGone = intercept[Exception] {
      s.sql("CALL graft.sys.unregister_feed('fr', 'etl')").collect() }
    assert(eGone.getMessage.contains("no registered feed consumer"),
      eGone.getMessage)
    graft.util.Fs.deleteRecursively(root)
  }

  test("BLOOM SKIPPING (round 18): #bloom records prune equality/IN " +
    "point reads strictly below the min/max-only plan on interleaved " +
    "key ranges, with zero false negatives; records ride compaction " +
    "and COW rewrites; both planners agree; the record size is " +
    "bounded by bloom.bits; a table without the property never " +
    "bloom-prunes") {
    val root = Files.createTempDirectory("graft_bloom")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    // bits at the floor: records stay tiny, fpp still ~0 at 3 values
    s.sql("""CREATE TABLE graft.snap.bl (k BIGINT, v STRING)
            |TBLPROPERTIES ('bloom.columns'='k,v', 'bloom.bits'='1024',
            |  'compact.interval'='100')""".stripMargin)
    // two files (one coalesced task file per append) with OVERLAPPING
    // envelopes: min/max alone cannot tell them apart for any probe
    // inside [2, 99] / ["aaa", "zzz"]
    locally { import s.implicits._
      Seq((1L, "alpha"), (50L, "mid"), (100L, "zeta")).toDF("k", "v")
        .coalesce(1).writeTo("graft.snap.bl").append()
      Seq((2L, "aaa"), (99L, "zzz")).toDF("k", "v")
        .coalesce(1).writeTo("graft.snap.bl").append()
    }
    def prune(): (Int, Int) = graft.sources.SnapTable.lastPruneOf("bl")

    // long probe: k=50 lives only in file 1; both envelopes admit it
    assert(s.sql("SELECT k FROM graft.snap.bl WHERE k = 50").collect()
      .map(_.getLong(0)).toSeq == Seq(50L), "zero false negatives")
    assert(prune() == ((2, 1)), s"bloom prunes the 50-free file: ${prune()}")
    // string probe: 'alpha' inside both string envelopes
    assert(s.sql("SELECT k FROM graft.snap.bl WHERE v = 'alpha'").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    assert(prune() == ((2, 1)), s"string bloom prunes too: ${prune()}")
    // IN probe spanning both files keeps both
    assert(s.sql("SELECT k FROM graft.snap.bl WHERE k IN (50, 2) " +
      "ORDER BY k").collect().map(_.getLong(0)).toSeq == Seq(2L, 50L))
    assert(prune() == ((2, 2)), s"IN spanning both keeps both: ${prune()}")
    // a probe NO file holds prunes everything (records are exhaustive)
    assert(s.sql("SELECT k FROM graft.snap.bl WHERE k = 60").collect()
      .isEmpty)
    assert(prune() == ((2, 0)), s"absent key prunes all: ${prune()}")

    // record-size bound: b64 of (1024 bits = 128 B + header) per col
    import scala.jdk.CollectionConverters._
    val bloomLines = java.nio.file.Files.list(root.resolve("bl"))
      .iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("epoch-") ||
        p.getFileName.toString.startsWith("compact-"))
      .flatMap(p => java.nio.file.Files.readAllLines(p).asScala)
      .filter(_.startsWith("#bloom ")).toSeq
    assert(bloomLines.nonEmpty, "the writes recorded #bloom lines")
    assert(bloomLines.forall(_.length < 600),
      s"record size bounded by bloom.bits: ${bloomLines.map(_.length)}")

    // COW rewrite: the survivor file records fresh blooms
    s.sql("UPDATE graft.snap.bl SET v = 'upd' WHERE k = 2")
    assert(s.sql("SELECT k FROM graft.snap.bl WHERE v = 'upd'").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    assert(prune() == ((2, 1)), s"rewritten file blooms again: ${prune()}")

    // compaction carries the records; the distributed checkpoint
    // planner consults them and agrees with the driver walk
    val r = s.sql("CALL graft.sys.expire_snapshots('bl', 1)").collect().head
    assert(r.getLong(1) > 0, s"the sweep absorbed epochs: $r")
    assert(s.sql("SELECT k FROM graft.snap.bl WHERE k = 50").collect()
      .map(_.getLong(0)).toSeq == Seq(50L), "post-compaction correctness")
    assert(prune() == ((2, 1)), s"compact carries #bloom: ${prune()}")
    s.conf.set("spark.graft.plan.distributedThreshold", "0")
    try {
      assert(s.sql("SELECT k FROM graft.snap.bl WHERE k = 50").collect()
        .map(_.getLong(0)).toSeq == Seq(50L))
      assert(prune() == ((2, 1)),
        s"the checkpoint planner probes blooms identically: ${prune()}")
    } finally s.conf.unset("spark.graft.plan.distributedThreshold")

    // control: same data, NO bloom property -> min/max keeps both
    s.sql("CREATE TABLE graft.snap.blc (k BIGINT, v STRING)")
    locally { import s.implicits._
      Seq((1L, "alpha"), (50L, "mid"), (100L, "zeta")).toDF("k", "v")
        .coalesce(1).writeTo("graft.snap.blc").append()
      Seq((2L, "aaa"), (99L, "zzz")).toDF("k", "v")
        .coalesce(1).writeTo("graft.snap.blc").append()
    }
    assert(s.sql("SELECT k FROM graft.snap.blc WHERE k = 50").collect()
      .map(_.getLong(0)).toSeq == Seq(50L))
    assert(graft.sources.SnapTable.lastPruneOf("blc") == ((2, 2)),
      "without the property min/max alone cannot prune overlapping files")
    graft.util.Fs.deleteRecursively(root)
  }

  test("EXPIRE SNAPSHOTS (round 17): count- and age-based retirement " +
    "via a forced bounded sweep — tag targets clamp it (tagged " +
    "snapshots survive expiry), travel below the new horizon refuses " +
    "with the boundary named, vacuum reclaims the newly-unreferenced " +
    "bytes, and the loose history stays bounded under commits") {
    val root = Files.createTempDirectory("graft_expire")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001)
    s.conf.set("spark.sql.catalog.graft.snap.dir", root.toString)
    val log = root.resolve("ex").toString
    // interval 100: nothing sweeps on its own — expiry is the actor
    s.sql("""CREATE TABLE graft.snap.ex (k BIGINT, v STRING)
            |TBLPROPERTIES ('compact.interval'='100')""".stripMargin)
    (1 to 8).foreach(i =>
      s.sql(s"INSERT INTO graft.snap.ex VALUES ($i, 'v$i')")) // epochs 1-8
    s.sql("CALL graft.sys.create_tag('ex', 'keep', 5)").collect()

    // count-based, clamped by the tag: requested 8-2=6, tag at 5 wins
    val r1 = s.sql("CALL graft.sys.expire_snapshots('ex', 2)")
      .collect().head
    assert((r1.getLong(0), r1.getString(2)) == ((5L, "tag:keep")), r1)
    // the tagged snapshot SURVIVES expiry (horizon == tag target)
    assert(s.sql("SELECT count(*) FROM graft.snap.ex VERSION AS OF 'keep'")
      .head().getLong(0) == 5L, "tagged snapshot must stay servable")
    // travel below the new horizon refuses, boundary named
    val eBelow = intercept[Exception] {
      s.sql("SELECT * FROM graft.snap.ex VERSION AS OF 3").collect() }
    assert(eBelow.getMessage.contains("5") &&
      (eBelow.getMessage.contains("horizon") ||
        eBelow.getMessage.contains("retained")), eBelow.getMessage)

    // drop the tag: the same request now retires freely. keep_last
    // counts VERSIONS (epoch ids) — the tag epochs (9, 10) count, so
    // newest(10) - 2 = 8
    s.sql("CALL graft.sys.drop_tag('ex', 'keep')").collect()
    val r2 = s.sql("CALL graft.sys.expire_snapshots('ex', 2)")
      .collect().head
    assert((r2.getLong(0), r2.getString(2)) == ((8L, "none")), r2)

    // an overwrite's victims become vacuum-reclaimable once the
    // remove epoch retires into the compact
    val before = graft.sources.ManifestSink.committedFiles(log)
      .map(f => java.nio.file.Paths.get(f).getFileName.toString).toSet
    s.sql("INSERT OVERWRITE graft.snap.ex VALUES (99, 'z')")   // epoch 11
    s.sql("INSERT INTO graft.snap.ex VALUES (100, 'y')")       // epoch 12
    assert(graft.sources.ManifestSink.vacuum(log, 0L).isEmpty,
      "victims stay referenced while the remove epoch is loose")
    val r3 = s.sql("CALL graft.sys.expire_snapshots('ex', 1)")
      .collect().head
    assert(r3.getLong(0) == 11L, r3)
    val reclaimed = graft.sources.ManifestSink.vacuum(log, 0L).toSet
    assert(reclaimed == before,
      s"the retired overwrite's victims reclaim: $reclaimed vs $before")
    assert(s.sql("SELECT k FROM graft.snap.ex ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(99L, 100L), "live rows intact")
    // bounded history: one compact + the un-expired tail
    locally {
      import scala.jdk.CollectionConverters._
      val frags = java.nio.file.Files.list(root.resolve("ex"))
        .iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("epoch-") || n.startsWith("compact-"))
        .toSeq
      assert(frags.count(_.startsWith("compact-")) == 1 &&
        frags.count(_.startsWith("epoch-")) <= 1,
        s"history bounded by expiry: $frags")
    }

    // AGE-based: stamp the next epochs' commit times ANCIENT, expire
    // by age — only the stamped ones retire (the #ts clock decides)
    s.sql("INSERT INTO graft.snap.ex VALUES (101, 'a')")       // epoch 13
    s.sql("INSERT INTO graft.snap.ex VALUES (102, 'b')")       // epoch 14
    graft.sources.ManifestSink.stampCommitTime(log, 13L, 1000000000L)
    val r4 = s.sql(
      "CALL graft.sys.expire_snapshots('ex', older_than_ms => 86400000)")
      .collect().head
    // the horizon is contiguous: retiring the ancient epoch 13 also
    // absorbs the younger epoch 12 below it — age expiry retires
    // THROUGH the newest old-enough epoch
    assert(r4.getLong(0) == 13L,
      s"age expiry retires through the ancient-stamped epoch: $r4")
    assert(s.sql("SELECT count(*) FROM graft.snap.ex").head().getLong(0)
      == 4L)
    graft.util.Fs.deleteRecursively(root)
  }
}
