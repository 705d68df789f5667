package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, VersionedTable}
import graft.functions.TextFunctions
import graft.sources.{BronzeIngest, Layout, NeoSchema}

/** Operational robustness: small-files compaction, corrupt-JSON ingest
  * resilience, and the unified batch/streaming behavior of the
  * shuffle-free text/dedup projections.
  */
class OpsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("stageSmallFiles: a multi-partition sub-64-row input still " +
    "writes exactly least(64, n) files") {
    // The q_compaction before-count contract. A bare
    // coalesce(1).repartition(64) is rewritten by CollapseRepartition
    // to drop the coalesce, letting each input partition round-robin
    // from its own offset — collisions write FEWER than n files on
    // sub-64-row inputs. The localCheckpoint barrier in stageSmallFiles
    // is what this pin protects.
    val dir = Files.createTempDirectory("graft-stage64").toString + "/t"
    graft.operators.OpsGate.stageSmallFiles(
      spark.range(10).selectExpr("id", "id * 3 AS v").repartition(4), dir)
    // non-empty files (the writer always materializes partition 0 as a
    // 0-row schema carrier — q_compaction's counter excludes it the
    // same way)
    val files = spark.read.parquet(dir)
      .select(input_file_name().as("f")).distinct().count()
    assert(files === 10L,
      s"expected least(64, 10) = 10 non-empty staged files, got $files")
  }

  test("compaction: many small files → ceil(bytes/target), same rows") {
    val dir = Files.createTempDirectory("graft-compact").toString + "/t"
    spark.range(10000).selectExpr("id", "id * 2 AS v")
      .repartition(40).write.parquet(dir)
    val before = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(before >= 30)
    VersionedTable(spark, dir, retain = 0).optimize(targetBytes = 1L << 30)
    val after = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(after === 1)
    assert(spark.read.parquet(dir).count() === 10000)
    assert(spark.read.parquet(dir).agg(sum(col("v"))).as[Long]
      .collect().head === (0L until 10000L).map(_ * 2).sum)
  }

  test("bronze read survives a corrupt JSON document (permissive mode)") {
    val layout = Layout(Files.createTempDirectory("graft-corrupt").toString)
    BronzeIngest.writeRaw(spark, layout, "2026-08-12",
      """{"element_count": not even json!!""")
    // explicit schema + default PERMISSIVE mode: the corrupt document
    // yields a null-fielded row, the flatten yields 0 rows, no crash
    val feed = spark.read.schema(NeoSchema.feed)
      .option("multiLine", "true")
      .json(layout.bronzeFile("2026-08-12"))
    val flat = graft.etl.BronzeToSilver.flatten(feed)
    assert(flat.count() === 0)
  }

  test("shuffle-free dedup/text projections run unchanged on a stream") {
    val in = MemoryStream[(Long, String)](spark)
    val docs = in.toDF().toDF("doc_id", "text")
    // minhash signatures + quality + fingerprint are pure projections →
    // legal in APPEND mode with zero state
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text",
        k = 2, numHashes = 4)
      .withColumn("quality",
        TextFunctions.qualityScore(lit("some sample text here")))
    val q = sigs.writeStream.format("memory").queryName("stream_sigs")
      .outputMode("append").start()
    in.addData((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "one two"), (4L, "x"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("stream_sigs")
    assert(out.count() === 3) // doc 4 has < k tokens → no shingles
    val sig = out.select(col("doc_id"), col("mh0"))
      .as[(Long, Long)].collect().toMap
    assert(sig(1L) === sig(2L)) // identical docs, identical signatures
  }

  // ── versioned table surface (Delta-protocol stand-in) ────────────────

  test("versioned table: merge/delete bump versions, readAt time-travels") {
    val path = Files.createTempDirectory("graft-vt").toString + "/t"
    val t = Graft.table(spark, path)
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(t.version() === 1)
    t.merge(Seq((2L, "B"), (3L, "c")).toDF("id", "v"), Seq("id"))
    assert(t.version() === 2)
    t.delete(col("id") === 1L)
    assert(t.version() === 3)
    // live = v3: merge applied (incoming wins), id 1 deleted
    assert(t.read().orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((2L, "B"), (3L, "c")))
    // time travel: v1 pre-merge, v2 pre-delete
    assert(t.readAt(1).orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b")))
    assert(t.readAt(2).orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "B"), (3L, "c")))
    assert(t.readAt(3).count() === t.read().count())
    // history: newest first, exactly one live row, all versions present
    val h = t.history().as[(Long, Long, Long, Boolean)].collect()
    assert(h.map(_._1).toSeq === Seq(3L, 2L, 1L))
    assert(h.count(_._4) === 1 && h.head._4)
    // retained dirs are dot-prefixed → invisible to a parent-dir read
    assert(spark.read.parquet(path).count() === 2)
  }

  test("versioned table: restore rolls back AS a new commit; history survives") {
    val path = Files.createTempDirectory("graft-vt-restore").toString + "/t"
    val t = Graft.table(spark, path)
    t.overwrite(Seq((1L, "a")).toDF("id", "v"))
    t.overwrite(Seq((2L, "b")).toDF("id", "v"))
    t.overwrite(Seq((3L, "c")).toDF("id", "v"))
    assert(t.version() === 3)
    t.restore(1)
    // rollback is a COMMIT: v4 carries v1's rows, v3 stays retained
    assert(t.version() === 4)
    assert(t.read().as[(Long, String)].collect().toSeq === Seq((1L, "a")))
    assert(t.readAt(3).as[(Long, String)].collect().toSeq === Seq((3L, "c")))
    // a restore of a pruned version fails loudly, mutating nothing
    val e = intercept[java.io.IOException](t.restore(99))
    assert(e.getMessage.contains("not retained"))
    assert(t.version() === 4)
    // restoring the live version is a no-op commit (Delta allows it)
    t.restore(4)
    assert(t.version() === 5 &&
      t.read().as[(Long, String)].collect().toSeq === Seq((1L, "a")))
  }

  test("versioned table: retention prunes, vacuum tightens, readAt fails clearly") {
    val path = Files.createTempDirectory("graft-vt2").toString + "/t"
    val t = Graft.table(spark, path, retain = 2)
    (1 to 4).foreach(i => t.overwrite(Seq((i.toLong, i)).toDF("id", "v")))
    assert(t.version() === 4)
    assert(t.retainedVersions() === Seq(2L, 3L)) // v1 pruned (retain=2)
    val e = intercept[java.io.IOException](t.readAt(1))
    assert(e.getMessage.contains("not retained"))
    t.vacuum(keepLast = 1)
    assert(t.retainedVersions() === Seq(3L))
  }

  test("versioned table: concurrent writer aborts instead of interleaving") {
    val path = Files.createTempDirectory("graft-vt3").toString + "/t"
    val t = Graft.table(spark, path)
    t.overwrite(Seq((1L, "a")).toDF("id", "v"))
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.operators.DirSwap.acquireLock(fs, target) // a live second writer
    try {
      val e = intercept[java.io.IOException](
        t.merge(Seq((2L, "b")).toDF("id", "v"), Seq("id")))
      assert(e.getMessage.contains("concurrent writer"))
      assert(t.version() === 1) // nothing committed
    } finally graft.operators.DirSwap.releaseLock(fs, target)
    // and after the lock clears, the same merge commits
    t.merge(Seq((2L, "b")).toDF("id", "v"), Seq("id"))
    assert(t.version() === 2 && t.read().count() === 2)
  }

  test("versioned table: crash between commit renames keeps the displaced version") {
    val path = Files.createTempDirectory("graft-vt5").toString + "/t"
    val t = Graft.table(spark, path)
    t.overwrite(Seq((1L, "a")).toDF("id", "v")) // v1
    t.overwrite(Seq((2L, "b"), (3L, "c")).toDF("id", "v")) // v2
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = graft.operators.DirSwap.tmpPath(target)
    val old = graft.operators.DirSwap.oldPath(target)
    // simulate a writer that crashed mid-commit: it wrote a COMPLETE v3
    // tmp (committer _SUCCESS present), renamed target→old, and died
    // before promoting tmp — the displaced v2 lives only in `old`
    Seq((4L, "d")).toDF("id", "v").write.parquet(tmp.toString)
    graft.operators.DirSwap.writeVersion(fs, tmp, 3L)
    assert(fs.rename(target, old))
    // the next mutation's recovery must roll FORWARD to v3 and park v2
    // under its retained name instead of deleting it
    t.delete(col("id") === 999L) // commits v4 over the recovered v3
    assert(t.version() === 4)
    assert(t.retainedVersions().contains(2L), "displaced v2 was lost")
    assert(t.readAt(2).count() === 2)
    assert(t.readAt(3).count() === 1)
    assert(t.read().count() === 1)
  }

  test("versioned table: optimize compacts as a time-travel-able version") {
    val path = Files.createTempDirectory("graft-vt4").toString + "/t"
    val t = Graft.table(spark, path)
    t.overwrite(spark.range(1000).selectExpr("id", "id * 3 AS v")
      .repartition(20))
    val before = new java.io.File(path).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(before >= 15)
    t.optimize(targetBytes = 1L << 30)
    val after = new java.io.File(path).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(after === 1)
    assert(t.version() === 2)
    assert(t.read().count() === 1000)
    // the pre-compaction layout is still readable at v1
    assert(t.readAt(1).count() === 1000)
  }

  test("versioned table: merge evolves the schema; old versions keep theirs") {
    val path = Files.createTempDirectory("graft-vt6").toString + "/t"
    val t = Graft.table(spark, path)
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // incoming batch adds a column and updates a key: unionByName with
    // allowMissingColumns null-fills the old rows — Delta's
    // mergeSchema behavior
    t.merge(Seq((2L, "b2", 99L), (3L, "c", 7L))
      .toDF("id", "v", "score"), keys = Seq("id"))
    val live = t.read()
    assert(live.columns.toSet === Set("id", "v", "score"))
    assert(live.count() === 3)
    assert(live.filter(col("id") === 1L).select("score")
      .collect()(0).isNullAt(0)) // old row null-filled
    assert(live.filter(col("id") === 2L).select("v")
      .as[String].head() === "b2") // incoming wins on the merge key
    // time travel still serves the PRE-evolution schema
    assert(t.readAt(1).columns.toSet === Set("id", "v"))
  }

  test("versioned table: OPTIMIZE ZORDER tightens per-file spans on BOTH dims") {
    val path = Files.createTempDirectory("graft-vt5").toString + "/t"
    val t = Graft.table(spark, path)
    // 64×64 grid in row-major order: a naive x-sorted layout gives
    // each file the FULL y range
    val grid = spark.range(4096)
      .selectExpr("id div 64 AS x", "id % 64 AS y")
    t.overwrite(grid.repartitionByRange(8, col("x")))
    def spans(): (Long, Long) = {
      val perFile = spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
        .agg(avg("sx"), avg("sy")).collect()(0)
      (perFile.getDouble(0).round, perFile.getDouble(1).round)
    }
    val (_, syBefore) = spans()
    assert(syBefore === 63L) // x-sorted files span all of y
    // 16 z-range files over the 64×64 grid ≈ one 16×16 z-tile each
    t.optimizeZOrder(col("x"), col("y"), numFiles = Some(16))
    assert(t.version() === 2)
    // content identical, layout clustered: both spans now well under
    // the full 0..63 range (each file ≈ an axis-aligned z-cell)
    val zread = t.read()
    assert(zread.count() === 4096)
    assert(zread.selectExpr("sum(x * 64 + y)").as[Long].head() ===
      (0L until 4096L).sum)
    val (sxAfter, syAfter) = spans()
    assert(sxAfter <= 32L && syAfter <= 32L,
      s"z-layout spans ($sxAfter, $syAfter) not tight on both dims")
  }
}
