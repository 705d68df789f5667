package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DirSwap, MergeUpsert}

/** Merge-upsert semantics (reference: src/utils/bucket.py:63-89) plus
  * the SURVEY.md §5.3 properties: idempotence and key-order
  * insensitivity (seeded random cases — deterministic re-runs).
  */
class MergeUpsertSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // swap artifacts are dot-prefixed siblings (invisible to partition
  // discovery) — DirSwap owns their naming
  private def tmpOf(p: String) = DirSwap.tmpPath(new org.apache.hadoop.fs.Path(p))
  private def oldOf(p: String) = DirSwap.oldPath(new org.apache.hadoop.fs.Path(p))

  test("incoming rows win on key collision by default") {
    val existing = Seq((1, "old"), (2, "keep")).toDF("k", "v")
    val incoming = Seq((1, "new"), (3, "add")).toDF("k", "v")
    val out = MergeUpsert.merge(existing, incoming, Seq("k"))
      .orderBy("k").as[(Int, String)].collect()
    assert(out.toSeq === Seq((1, "new"), (2, "keep"), (3, "add")))
  }

  test("schema evolution: missing columns null-fill via unionByName") {
    val existing = Seq((1, "a")).toDF("k", "v")
    val incoming = Seq((2, 9.5)).toDF("k", "extra")
    val out = MergeUpsert.merge(existing, incoming, Seq("k"))
    assert(out.columns.toSet === Set("k", "v", "extra"))
    val r2 = out.filter($"k" === 2).collect().head
    assert(r2.getAs[String]("v") == null)
    assert(r2.getAs[Double]("extra") === 9.5)
  }

  test("saveOrUpdate: creates, then merges, never drops existing rows") {
    val path = Files.createTempDirectory("graft-merge").toString + "/t"
    MergeUpsert.saveOrUpdate(spark,
      Seq((1, "a"), (2, "b")).toDF("k", "v"), path, Seq("k"))
    MergeUpsert.saveOrUpdate(spark,
      Seq((2, "B"), (3, "c")).toDF("k", "v"), path, Seq("k"))
    val out = spark.read.parquet(path).orderBy("k")
      .as[(Int, String)].collect()
    assert(out.toSeq === Seq((1, "a"), (2, "B"), (3, "c")))
  }

  test("recover: every interrupted-swap state restores a complete table") {
    import org.apache.hadoop.fs.Path
    val fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
    def freshTable(): String = {
      val p = Files.createTempDirectory("graft-swap").toString + "/t"
      MergeUpsert.saveOrUpdate(spark, Seq((1, "a")).toDF("k", "v"), p, Seq("k"))
      p
    }
    def rows(p: String) = spark.read.parquet(p).as[(Int, String)].collect().toSet

    // crash between rename-old-away and rename-new-in: main gone,
    // old + tmp present → tmp (the complete new version) is promoted
    val p1 = freshTable()
    Seq((1, "A"), (2, "b")).toDF("k", "v")
      .write.parquet(tmpOf(p1).toString)
    assert(fs.rename(new Path(p1), oldOf(p1)))
    DirSwap.recover(fs, new Path(p1), retain = 0)
    assert(rows(p1) === Set((1, "A"), (2, "b")))
    assert(!fs.exists(oldOf(p1)))
    assert(!fs.exists(tmpOf(p1)))

    // crash right after rename-old-away with tmp lost → old restored
    val p2 = freshTable()
    assert(fs.rename(new Path(p2), oldOf(p2)))
    DirSwap.recover(fs, new Path(p2), retain = 0)
    assert(rows(p2) === Set((1, "a")))

    // crash after write-new but before any rename → main intact,
    // leftovers dropped
    val p3 = freshTable()
    Seq((9, "z")).toDF("k", "v").write.parquet(tmpOf(p3).toString)
    DirSwap.recover(fs, new Path(p3), retain = 0)
    assert(rows(p3) === Set((1, "a")))
    assert(!fs.exists(tmpOf(p3)))

    // and saveOrUpdate self-heals on entry: interrupted state, then a
    // normal merge lands on the recovered table
    val p4 = freshTable()
    Seq((1, "A2"), (2, "b2")).toDF("k", "v")
      .write.parquet(tmpOf(p4).toString)
    assert(fs.rename(new Path(p4), oldOf(p4)))
    MergeUpsert.saveOrUpdate(spark, Seq((3, "c")).toDF("k", "v"), p4, Seq("k"))
    assert(rows(p4) === Set((1, "A2"), (2, "b2"), (3, "c")))
  }

  test("recover: a PARTIAL tmp (no _SUCCESS) is discarded, never promoted") {
    import org.apache.hadoop.fs.Path
    val fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = Files.createTempDirectory("graft-swap").toString + "/t"
    MergeUpsert.saveOrUpdate(spark, Seq((1, "a")).toDF("k", "v"), p, Seq("k"))
    // simulate a crash mid-write during the swap: target renamed away,
    // tmp half-written (its committer marker never landed)
    Seq((9, "junk")).toDF("k", "v").write.parquet(tmpOf(p).toString)
    fs.delete(new Path(tmpOf(p), "_SUCCESS"), false)
    assert(fs.rename(new Path(p), oldOf(p)))
    DirSwap.recover(fs, new Path(p), retain = 0)
    // old (the last complete version) wins; the torso is gone
    assert(spark.read.parquet(p).as[(Int, String)].collect().toSet ===
      Set((1, "a")))
    assert(!fs.exists(tmpOf(p)))
  }

  test("single-writer lock: concurrent writer fails fast, stale lock self-heals") {
    import org.apache.hadoop.fs.Path
    import graft.operators.DirSwap
    val fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = Files.createTempDirectory("graft-lock").toString + "/t"
    MergeUpsert.saveOrUpdate(spark, Seq((1, "a")).toDF("k", "v"), p, Seq("k"))
    // another live writer holds the lock → this writer must NOT proceed
    DirSwap.acquireLock(fs, new Path(p))
    val e = intercept[java.io.IOException] {
      MergeUpsert.saveOrUpdate(spark, Seq((2, "b")).toDF("k", "v"), p, Seq("k"))
    }
    assert(e.getMessage.contains("concurrent writer"))
    // table unharmed by the refused attempt
    assert(spark.read.parquet(p).count() === 1)
    // a DEAD writer's lock (older than the stale threshold) is broken
    // automatically and the merge proceeds
    val lock = DirSwap.lockPath(new Path(p))
    fs.setTimes(lock, System.currentTimeMillis() - 60 * 60 * 1000, -1)
    MergeUpsert.saveOrUpdate(spark, Seq((2, "b")).toDF("k", "v"), p, Seq("k"))
    assert(spark.read.parquet(p).count() === 2)
    assert(!fs.exists(lock)) // released after commit
  }

  test("version file: monotonic across merges, travels through the swap") {
    import org.apache.hadoop.fs.Path
    import graft.operators.DirSwap
    val fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = Files.createTempDirectory("graft-ver").toString + "/t"
    MergeUpsert.saveOrUpdate(spark, Seq((1, "a")).toDF("k", "v"), p, Seq("k"))
    assert(DirSwap.readVersion(fs, new Path(p)) === 1L)
    MergeUpsert.saveOrUpdate(spark, Seq((2, "b")).toDF("k", "v"), p, Seq("k"))
    assert(DirSwap.readVersion(fs, new Path(p)) === 2L)
    // the version file is metadata (underscore-prefixed): readers skip it
    assert(spark.read.parquet(p).count() === 2)
    // last-writer check: committing against a version that moved aborts
    val e = intercept[java.io.IOException] {
      DirSwap.commit(fs, new Path(p), expectedVersion = 1L, retain = 0)
    }
    assert(e.getMessage.contains("lost update"))
  }

  test("saveOrUpdate with recency tiebreak: fold is arrival-order-free " +
    "and replay-safe (the q_neo_backfill contract)") {
    import org.apache.hadoop.fs.Path
    import graft.operators.DirSwap
    val fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
    // daily increments: (key, as_of day, payload); later day must win
    // regardless of arrival order
    val days = Map(
      1 -> Seq((10, 1, "d1-a"), (20, 1, "d1-b")),
      2 -> Seq((10, 2, "d2-a"), (30, 2, "d2-c")),
      3 -> Seq((20, 3, "d3-b")))
    val tiebreak = Seq(col("as_of").desc, col("v").asc)
    def fold(arrivals: Seq[Int]): (Seq[(Int, Int, String)], Long) = {
      val p = Files.createTempDirectory("graft-bf").toString + "/t"
      arrivals.foreach(d => MergeUpsert.saveOrUpdate(spark,
        days(d).toDF("k", "as_of", "v"), p, Seq("k"), tiebreak = tiebreak))
      (spark.read.parquet(p).orderBy("k")
        .as[(Int, Int, String)].collect().toSeq,
        DirSwap.readVersion(fs, new Path(p)))
    }
    val expected = Seq((10, 2, "d2-a"), (20, 3, "d3-b"), (30, 2, "d2-c"))
    val (inOrder, v1) = fold(Seq(1, 2, 3))
    val (outOfOrder, v2) = fold(Seq(3, 1, 2))
    val (replayed, v3) = fold(Seq(2, 3, 1, 3)) // day 3 applied twice
    assert(inOrder === expected)
    assert(outOfOrder === expected)
    assert(replayed === expected)
    // version is arrival-count monotonic, not content-dependent
    assert(v1 === 3L && v2 === 3L && v3 === 4L)
  }

  test("tied tiebreak: survivor is deterministic when rows differ only " +
    "in a map column or only by null placement (ADVICE r13)") {
    // Both tied rows arrive on the SAME side (same priority), with a
    // constant user tiebreak — only the row hash can order them. The
    // contract: the winner is a function of row CONTENT, not of input
    // row order.
    // map-only difference: xxhash64 rejects MapType, so without the
    // to_json canonicalization these rows would tie → arbitrary winner
    val mapRows = Seq((1, Map("a" -> 1)), (1, Map("a" -> 2)))
    val emptyMap = mapRows.toDF("k", "m").limit(0)
    def surviveMap(rows: Seq[(Int, Map[String, Int])]) =
      MergeUpsert.merge(emptyMap, rows.toDF("k", "m"), Seq("k"),
          tiebreak = Seq(lit(0)))
        .select(element_at(col("m"), "a")).as[Int].head()
    assert(surviveMap(mapRows) === surviveMap(mapRows.reverse))
    // null-placement difference: raw xxhash64 skips null args, so
    // (x, null) and (null, x) would hash identically without the
    // per-column sentinel terms
    val nullRows = Seq((1, Option("x"), Option.empty[String]),
      (1, Option.empty[String], Option("x")))
    val emptyNull = nullRows.toDF("k", "u", "v").limit(0)
    def surviveNull(rows: Seq[(Int, Option[String], Option[String])]) =
      MergeUpsert.merge(emptyNull, rows.toDF("k", "u", "v"), Seq("k"),
          tiebreak = Seq(lit(0)))
        .select(col("u")).as[Option[String]].head()
    assert(surviveNull(nullRows) === surviveNull(nullRows.reverse))
  }

  test("internal column names do not clobber user columns named " +
    "__merge_priority / __merge_rn (ADVICE r13)") {
    val existing = Seq((1, "e", 7)).toDF("k", "v", "__merge_priority")
    val incoming = Seq((1, "i", 9)).toDF("k", "v", "__merge_priority")
    val out = MergeUpsert.merge(existing, incoming, Seq("k"))
    // user column survives with the incoming row's value (incoming wins)
    assert(out.columns.toSeq === Seq("k", "v", "__merge_priority"))
    assert(out.select("v", "__merge_priority").as[(String, Int)].head()
      === (("i", 9)))
  }

  test("merged column order follows existing (left operand), " +
    "incoming-only columns append last (ADVICE r13)") {
    val existing = Seq((1, "e")).toDF("k", "v")
    val incoming = Seq((2, "i", 3.0)).toDF("k", "v", "extra")
    val out = MergeUpsert.merge(existing, incoming, Seq("k"))
    assert(out.columns.toSeq === Seq("k", "v", "extra"))
  }

  test("property: merge is idempotent and row-order insensitive") {
    val rnd = new scala.util.Random(42)
    def rows() = List.fill(30)((rnd.nextInt(10), rnd.nextInt(101)))
    for (_ <- 1 to 5) {
      val ex = rows(); val in = rows()
      val exOrder = rnd.shuffle(ex); val inOrder = rnd.shuffle(in)
      val tiebreak = Seq(col("v").desc, col("k").asc) // deterministic survivor
      // once, twice and shuffled: under the default split the inputs fit
      // one partition; under a 1-byte split the merge plans an exchange
      def cases(): (Seq[(Int, Int)], Seq[(Int, Int)], Seq[(Int, Int)]) = {
        val existing = ex.toDF("k", "v")
        val incoming = in.toDF("k", "v")
        val once = MergeUpsert.merge(existing, incoming, Seq("k"), tiebreak)
        val twice = MergeUpsert.merge(once, incoming, Seq("k"), tiebreak)
        val shuffled = MergeUpsert.merge(exOrder.toDF("k", "v"),
          inOrder.toDF("k", "v"), Seq("k"), tiebreak)
        def sorted(df: org.apache.spark.sql.DataFrame) =
          df.orderBy("k", "v").as[(Int, Int)].collect().toSeq
        (sorted(once), sorted(twice), sorted(shuffled))
      }
      val (a, b, shuffled) = cases()
      assert(a === b)
      // one row per key, and every key present
      assert(a.map(_._1).distinct.size === a.size)
      assert(a.map(_._1).toSet === (ex ++ in).map(_._1).toSet)
      // shuffled inputs give the identical table
      assert(shuffled === a)
      assert(withSplit(1)(cases()) === ((a, b, shuffled)))
    }
  }
}
