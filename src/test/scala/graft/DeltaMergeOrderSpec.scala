package graft

import org.apache.spark.sql.functions._

import graft.sources.DeltaStore

/** Pins the constant-depth DeltaStore.merged fold (single union +
  * latest-wins winner resolution) against sequential per-segment
  * anti-join semantics, on every ordering edge: upsert then
  * later tombstone (gone), tombstone then later upsert (back), same-cycle
  * tombstone + upsert (upsert wins — the old fold removed then re-added),
  * tombstone of a never-present pk (no-op), multi-row group pks (the
  * LATEST cycle's full row-set wins wholesale), and untouched base rows;
  * and pins that a store schema using a helper column name of the fold is
  * rejected instead of silently overwritten. */
class DeltaMergeOrderSpec extends SparkSpec {
  import spark.implicits._

  test("merged equals the sequential latest-wins fold on all orderings") {
    val s = spark
    val name = "mergeorder_t16"
    val d = "/root/testdata/sf0.001" // only feeds the table-name tag
    // base: pks 1..6, one row each except pk 5 (two rows — group-shaped)
    val base = Seq((1L, "b1"), (2L, "b2"), (3L, "b3"), (4L, "b4"),
      (5L, "b5a"), (5L, "b5b"), (6L, "b6")).toDF("pk", "v")
    // cycle 1: upsert pk2 (two rows), pk3; tombstone pk4, pk9 (never present)
    DeltaStore.writeCycle(s, name, d, 1,
      Seq((2L, "u1-2a"), (2L, "u1-2b"), (3L, "u1-3")).toDF("pk", "v"),
      Seq(4L, 9L).toDF("pk"))
    // cycle 2: tombstone pk2 (kills cycle-1 upsert), upsert pk4 (back after
    // tombstone), same-cycle tombstone+upsert pk5 (upsert wins), upsert pk7
    DeltaStore.writeCycle(s, name, d, 2,
      Seq((4L, "u2-4"), (5L, "u2-5"), (7L, "u2-7")).toDF("pk", "v"),
      Seq(2L, 5L).toDF("pk"))
    // cycle 3: upsert pk2 again (back), tombstone pk3
    DeltaStore.writeCycle(s, name, d, 3,
      Seq((2L, "u3-2")).toDF("pk", "v"),
      Seq(3L).toDF("pk"))

    val got = DeltaStore.merged(s, name, d, base, Seq("pk"), cycles = 3)
      .as[(Long, String)].collect().toSet
    val want = Set(
      (1L, "b1"),          // untouched
      (2L, "u3-2"),        // upsert → tombstone → upsert = latest upsert
      // 3: upsert then later tombstone = gone
      (4L, "u2-4"),        // tombstone then later upsert = back
      (5L, "u2-5"),        // same-cycle tombstone + upsert = upsert wins
      (6L, "b6"),          // untouched
      (7L, "u2-7"))        // pure insert
    assert(got == want)

    // cycles = 1 prefix must match the one-segment fold too
    val got1 = DeltaStore.merged(s, name, d, base, Seq("pk"), cycles = 1)
      .as[(Long, String)].collect().toSet
    val want1 = Set((1L, "b1"), (2L, "u1-2a"), (2L, "u1-2b"), (3L, "u1-3"),
      (5L, "b5a"), (5L, "b5b"), (6L, "b6"))
    assert(got1 == want1)
  }

  test("merged rejects a store column that collides with a merge helper") {
    val s = spark
    val name = "mergeorder_reserved"
    val d = "/root/testdata/sf0.001"
    DeltaStore.writeCycle(s, name, d, 1,
      Seq((1L, "u1", 7)).toDF("pk", "v", "_cyc"), Seq.empty[Long].toDF("pk"))
    val base = Seq((1L, "b1", 0), (2L, "b2", 0)).toDF("pk", "v", "_cyc")
    val e = intercept[IllegalArgumentException] {
      DeltaStore.merged(s, name, d, base, Seq("pk"), cycles = 1)
    }
    assert(e.getMessage.contains("_cyc"))
    // case-insensitive, like the analyzer that would resolve the clash
    intercept[IllegalArgumentException] {
      DeltaStore.merged(s, name, d, base.withColumnRenamed("_cyc", "_TC"),
        Seq("pk"), cycles = 1)
    }
  }
}
