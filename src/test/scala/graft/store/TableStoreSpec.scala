package graft.store

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.SparkSpec

class TableStoreSpec extends SparkSpec {

  private def newStore(): TableStore =
    new TableStore(spark, Files.createTempDirectory("graft-store").toString)

  test("appendIfAbsent inserts only novel keys and is idempotent") {
    import spark.implicits._
    val store = newStore()
    val batch1 = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    assert(store.appendIfAbsent("t", batch1, "k") == 2)
    // Re-running the same batch inserts nothing (the reference's
    // "safe to re-run" contract).
    assert(store.appendIfAbsent("t", batch1, "k") == 0)
    val batch2 = Seq(("b", 99), ("c", 3)).toDF("k", "v")
    assert(store.appendIfAbsent("t", batch2, "k") == 1)
    val rows = store.read("t").get.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(rows == Map("a" -> 1, "b" -> 2, "c" -> 3)) // b kept original
  }

  test("upsert replaces matched keys, keeps unmatched, latest version wins") {
    import spark.implicits._
    val store = newStore()
    store.upsert("u", Seq(("a", 1, 10L), ("b", 2, 10L)).toDF("k", "v", "ver"), "k", "ver")
    store.upsert("u", Seq(("b", 20, 11L), ("c", 3, 11L)).toDF("k", "v", "ver"), "k", "ver")
    val rows = store.read("u").get.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(rows == Map("a" -> 1, "b" -> 20, "c" -> 3))
    // Idempotent: re-applying the second batch changes nothing.
    store.upsert("u", Seq(("b", 20, 11L), ("c", 3, 11L)).toDF("k", "v", "ver"), "k", "ver")
    val again = store.read("u").get.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(again == Map("a" -> 1, "b" -> 20, "c" -> 3))
  }

  test("replaceWhere rewrites only matching rows, including removals") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val store = newStore()
    store.write("rw", Seq(("d1", "a", 1), ("d1", "b", 2), ("d2", "c", 3)).toDF("day", "k", "v"))
    // refresh day d1: row a changed, row b disappeared, row x is new
    store.replaceWhere("rw",
      Seq(("d1", "a", 10), ("d1", "x", 5)).toDF("day", "k", "v"),
      col("day") === "d1")
    val rows = store.read("rw").get.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
    // b is GONE (an upsert could not express that); d2 untouched
    assert(rows == Map(("d1", "a") -> 10, ("d1", "x") -> 5, ("d2", "c") -> 3))
  }

  test("compact collapses many small append files, preserving rows") {
    import spark.implicits._
    val store = newStore()
    // 12 tiny appends → ≥12 small files
    (1 to 12).foreach { i =>
      store.appendIfAbsent("c", Seq((s"k$i", i)).toDF("k", "v"), "k")
    }
    assert(store.fileCount("c") >= 12)
    val before = store.read("c").get.collect().map(r => (r.getString(0), r.getInt(1))).toSet
    store.compact("c")
    assert(store.fileCount("c") == 1) // tiny table → single target file
    val after = store.read("c").get.collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(after == before)
  }

  test("upsert with stale incoming version keeps the stored row") {
    import spark.implicits._
    val store = newStore()
    store.upsert("w", Seq(("a", 5, 20L)).toDF("k", "v", "ver"), "k", "ver")
    store.upsert("w", Seq(("a", 1, 10L)).toDF("k", "v", "ver"), "k", "ver")
    assert(store.read("w").get.collect()(0).getInt(1) == 5)
  }

  test("scd2Upsert versions changes, keeps history, and re-runs are no-ops") {
    import spark.implicits._
    val store = newStore()
    // initial load: two keys
    store.scd2Upsert("s", Seq(("a", 1, 10L), ("b", 2, 10L)).toDF("k", "v", "ts"),
      "k", "ts")
    // a changes, b unchanged, c is new
    val batch2 = Seq(("a", 5, 20L), ("b", 2, 20L), ("c", 3, 20L)).toDF("k", "v", "ts")
    store.scd2Upsert("s", batch2, "k", "ts")

    def snap() = store.read("s").get.collect().map(r =>
      (r.getAs[String]("k"), r.getAs[Int]("v"), r.getAs[Long]("valid_from"),
        Option(r.getAs[java.lang.Long]("valid_to")).map(_.toLong),
        r.getAs[Boolean]("is_current"))).toSet

    val expected = Set(
      ("a", 1, 10L, Some(20L), false),  // closed at the change
      ("a", 5, 20L, None, true),
      ("b", 2, 10L, None, true),        // unchanged: still the open v1
      ("c", 3, 20L, None, true))
    assert(snap() == expected)

    // idempotent: replaying the same batch adds no versions
    store.scd2Upsert("s", batch2, "k", "ts")
    assert(snap() == expected)

    // current view = one open row per key
    val cur = store.read("s").get.filter($"is_current")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(cur == Map("a" -> 5, "b" -> 2, "c" -> 3))
  }

  test("registerViews exposes the whole store (incl. multi-part tables) to spark.sql") {
    import spark.implicits._
    val store = newStore()
    store.write("plain", Seq((1, "a")).toDF("k", "v"))
    val agg = new AggTable(store, "stats", AggSpec(Seq("k"), Seq("x")))
    agg.accumulate("b1", Seq(("a", 1.0)).toDF("k", "x"))
    val views = store.registerViews()
    assert(views.contains("plain") && views.contains("stats_state") &&
      views.contains("stats_ledger"))
    assert(spark.sql("SELECT v FROM plain").head().getString(0) == "a")
    assert(spark.sql("SELECT batch_id FROM stats_ledger").head().getString(0) == "b1")
  }

  test("versioned writes time-travel; uncommitted debris is invisible; vacuum retains") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("store_tt").toString
    val store = new TableStore(spark, root)
    assert(store.writeVersion("t", Seq((1, "a")).toDF("k", "v")) == 1)
    assert(store.writeVersion("t", Seq((1, "a"), (2, "b")).toDF("k", "v")) == 2)
    // old version is untouched by the new commit (snapshot isolation)
    assert(store.readVersion("t", 1).count() == 1)
    assert(store.readLatest("t").get.count() == 2)
    // a crashed write = directory without _SUCCESS → readers ignore it
    val crashed = new java.io.File(s"$root/t/v=3"); crashed.mkdirs()
    new java.io.File(crashed, "part-junk.parquet").createNewFile()
    assert(store.versions("t") == Seq(1, 2))
    assert(store.readLatest("t").get.count() == 2)
    // the next commit claims a fresh number above the debris or reuses
    // 3's slot only if uncommitted — either way it becomes the latest
    val v = store.writeVersion("t", Seq((9, "z")).toDF("k", "v"))
    assert(store.versions("t").last == v)
    intercept[IllegalArgumentException](store.readVersion("t", 99))
    store.vacuum("t", keep = 1)
    assert(store.versions("t") == Seq(v))
    assert(!new java.io.File(s"$root/t/v=1").exists())
  }

  test("scd2Upsert discards late-arriving stale rows (history stays monotone)") {
    import spark.implicits._
    val store = newStore()
    store.scd2Upsert("late", Seq(("a", 1, 10L)).toDF("k", "v", "ts"), "k", "ts")
    store.scd2Upsert("late", Seq(("a", 5, 20L)).toDF("k", "v", "ts"), "k", "ts")
    // a late batch with OLDER ts and different attrs must not close the
    // newer version at ts=15 (valid_to < valid_from) nor become current
    store.scd2Upsert("late", Seq(("a", 9, 15L)).toDF("k", "v", "ts"), "k", "ts")
    val rows = store.read("late").get.collect().map(r =>
      (r.getAs[Int]("v"), r.getAs[Long]("valid_from"),
        Option(r.getAs[java.lang.Long]("valid_to")).map(_.toLong),
        r.getAs[Boolean]("is_current"))).toSet
    assert(rows == Set((1, 10L, Some(20L), false), (5, 20L, None, true)))
    // every closed version is monotone and exactly one row is open
    assert(rows.forall { case (_, from, to, _) => to.forall(_ > from) })
  }

  test("applyCdc merges insert/update/delete, survives replay and out-of-order") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("store_cdc").toString
    val store = new TableStore(spark, root)

    def snap() = store.read("t").get.collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Int]("v"), r.getAs[Long]("ver"))).toSet

    // batch 1: pure inserts
    store.applyCdc("t",
      Seq(("a", 1, 10L, "I"), ("b", 2, 10L, "I"), ("c", 3, 10L, "I"))
        .toDF("k", "v", "ver", "op"), "k", "ver")
    assert(snap() == Set(("a", 1, 10L), ("b", 2, 10L), ("c", 3, 10L)))

    // batch 2: update a, delete b, insert d — plus an in-batch
    // superseded change for a that must lose to the newer one
    val batch2 = Seq(
      ("a", 9, 15L, "U"), ("a", 5, 20L, "U"),
      ("b", 0, 20L, "D"), ("d", 4, 20L, "I"))
      .toDF("k", "v", "ver", "op")
    store.applyCdc("t", batch2, "k", "ver")
    val expected = Set(("a", 5, 20L), ("c", 3, 10L), ("d", 4, 20L))
    assert(snap() == expected)

    // replay of batch 2 is a no-op (idempotent recovery)
    store.applyCdc("t", batch2, "k", "ver")
    assert(snap() == expected)

    // out-of-order: stale changes (older version) cannot clobber
    // newer state, and the tombstone stops a stale insert from
    // resurrecting the deleted key
    store.applyCdc("t",
      Seq(("a", 7, 12L, "U"), ("b", 2, 11L, "I")).toDF("k", "v", "ver", "op"),
      "k", "ver")
    assert(snap() == expected)

    // a genuinely NEWER insert re-creates the key past its tombstone
    store.applyCdc("t", Seq(("b", 8, 30L, "I")).toDF("k", "v", "ver", "op"),
      "k", "ver")
    assert(snap() == expected + (("b", 8, 30L)))
  }

  test("a fresh TableStore reads a stored table with zero Spark jobs") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store").toString
    new TableStore(spark, root).write("t", Seq(("a", 1L)).toDF("k", "v"))
    val (df, jobs) = withJobCount(new TableStore(spark, root).read("t").get)
    assert(jobs == 0, s"read ran $jobs jobs")
    // the stored schema is exactly what footer inference returns
    assert(df.schema == spark.read.parquet(s"$root/t").schema)
    assert(df.as[(String, Long)].collect().toSeq == Seq(("a", 1L)))
  }

  test("a schema change written through one instance is seen by another") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store").toString
    val writer = new TableStore(spark, root)
    val reader = new TableStore(spark, root)
    writer.upsert("s", Seq(("a", 1L)).toDF("k", "ver"), "k", "ver")
    writer.upsert("s", Seq(("b", 1L)).toDF("k", "ver"), "k", "ver") // swapped in
    assert(reader.read("s").get.columns.toSeq == Seq("k", "ver"))
    // a rewrite with a new schema: the reader sees it, not a stale copy
    writer.write("s", Seq(("a", 2L, "x")).toDF("k", "ver", "note"))
    val df = reader.read("s").get
    assert(df.columns.toSeq == Seq("k", "ver", "note"))
    assert(df.as[(String, Long, String)].collect().toSeq == Seq(("a", 2L, "x")))
  }

  test("a table without the schema file still reads by inference") {
    import spark.implicits._
    val store = newStore()
    Seq(("a", 1)).toDF("k", "v").write.parquet(store.path("ext"))
    assert(!new java.io.File(store.path("ext"), TableStore.SchemaFile).exists())
    val (df, jobs) = withJobCount(store.read("ext").get)
    assert(jobs >= 1) // the footer-inference job
    assert(df.as[(String, Int)].collect().toSeq == Seq(("a", 1)))
    assert(store.read("missing").isEmpty)
  }

  test("writes report their row counts; an empty upsert batch skips the write") {
    import spark.implicits._
    val store = newStore()
    assert(store.write("w", Seq(("a", 1L), ("b", 1L)).toDF("k", "ver")) == 2L)
    assert(store.upsert("w", Seq(("b", 2L), ("c", 2L)).toDF("k", "ver"), "k", "ver")
      .contains(3L))
    assert(store.upsert("w", Seq.empty[(String, Long)].toDF("k", "ver"), "k", "ver").isEmpty)
    assert(store.replaceWhere("w", Seq(("z", 9L)).toDF("k", "ver"), col("k") =!= "a") == 2L)
    assert(store.read("w").get.count() == 2L)
  }

  test("multi-part tables keep a schema per part; registerViews is unchanged") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store").toString
    val store = new TableStore(spark, root)
    val agg = new AggTable(store, "stats", AggSpec(Seq("k"), Seq("x")))
    agg.accumulate("b1", Seq(("a", 1.0)).toDF("k", "x"))
    val dedup = new DedupStore(store, "corpus", "text", expectedItems = 1000)
    dedup.admit("b1", Seq("one doc", "another doc").toDF("text"))
    // each part directory carries its own schema file, none the parent
    for (part <- Seq("stats/state", "stats/ledger", "corpus/docs"))
      assert(new java.io.File(s"$root/$part", TableStore.SchemaFile).exists(), part)
    assert(!new java.io.File(s"$root/stats", TableStore.SchemaFile).exists())
    // a fresh instance reads the parts jobless, with the inferred schema
    val fresh = new TableStore(spark, root)
    val (state, jobs) = withJobCount(fresh.read("stats/state").get)
    assert(jobs == 0)
    assert(state.schema == spark.read.parquet(s"$root/stats/state").schema)
    assert(new AggTable(fresh, "stats", AggSpec(Seq("k"), Seq("x"))).state.get.count() == 1L)
    assert(new DedupStore(fresh, "corpus", "text", 1000).corpus.get.count() == 2L)
    // schema files are not data: views register and read as before
    val views = store.registerViews()
    assert(views.toSet.contains("stats_state") && views.toSet.contains("corpus_docs"))
    assert(spark.sql("SELECT count(*) FROM corpus_docs").head().getLong(0) == 2L)
  }
}
