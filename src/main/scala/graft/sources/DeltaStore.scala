package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** APPEND-DELTA persistence for maintained index stores — the
  * merge-on-read segment layout (Iceberg/Delta MOR, LSM levels) that makes
  * the WRITE side of index maintenance O(Δ) instead of O(index):
  *
  *   - the BASE segment is a bucketed [[Stores]] table, written once at
  *     ingest;
  *   - each maintenance cycle appends ONE delta segment: an upsert table
  *     (full payload rows for every touched primary key) plus a tombstone
  *     table (pk columns of retired keys) — both O(Δ) rows, O(Δ) bytes;
  *   - readers consume the UNION VIEW [[merged]]: per-pk latest-wins.
  *     Deltas are tiny by contract (the bounded-batch class every
  *     maintenance rung already assumes), so they ride broadcast joins and
  *     the bucketed base scan NEVER re-shuffles;
  *   - [[compact]] is the OPTIMIZE job: fold base + segments into a fresh
  *     bucketed base — run on a cadence, not per cycle (the planning
  *     analog of operators/Compaction.compactionPlan, which bins small
  *     files; here the bins are whole segments).
  *
  * Every segment table is written through Stores.catalogOrBuild. A
  * single-artifact family is one call to the cycle driver [[cycles]]: given
  * the base and a segment function (cycle, previous merged view) ⇒
  * (upserts, tombstones), it writes each missing cycle in order and
  * returns the merged view. Families that write several artifacts per
  * cycle from one maintenance pass (resolve) or additive counters (BM25)
  * script [[writeCycle]] / [[writeAdditive]] directly.
  *
  * Upsert semantics are WHOLESALE per pk: a delta's upsert table must
  * carry the COMPLETE new row-set of every pk it touches (one row for
  * row-shaped stores — codes, labels, doclens; the full adjacency /
  * signature set for group-shaped stores keyed by node / doc_id). A pk
  * absent from every segment keeps its base rows verbatim; a pk in a
  * tombstone table with no newer upsert is gone. Tombstoning a pk that
  * was never present is a no-op (retire-created-then-retired pairs).
  *
  * Segment identity: (store name, sf dir, cycle number) — deterministic
  * pure functions of the corpus snapshot, like every other store, so a
  * rebuild can never change values.
  */
object DeltaStore {

  private def uTable(name: String, d: String, cycle: Int): String =
    Stores.tableName(s"${name}_u$cycle", d)
  private def tTable(name: String, d: String, cycle: Int): String =
    Stores.tableName(s"${name}_t$cycle", d)
  private def aTable(name: String, d: String, cycle: Int): String =
    Stores.tableName(s"${name}_a$cycle", d)

  /** Helper columns of the [[merged]] winner resolution. */
  private val Reserved = Seq("_cyc", "_upc", "_tc")

  /** True iff cycle `cycle`'s delta segment is already persisted. */
  def hasCycle(s: SparkSession, name: String, d: String, cycle: Int): Boolean =
    s.catalog.tableExists(uTable(name, d, cycle)) &&
      s.catalog.tableExists(tTable(name, d, cycle))

  /** Persist ONE maintenance cycle's delta segment. `upserts` carries the
    * complete new row-set per touched pk; `tombstones` the pk columns of
    * retired keys. Both land as plain (unbucketed) tables: a delta is
    * broadcast-sized by the bounded-batch contract, so bucketing buys
    * nothing and would cost a shuffle. Idempotent per (name, cycle). */
  def writeCycle(s: SparkSession, name: String, d: String, cycle: Int,
                 upserts: => DataFrame, tombstones: => DataFrame): Unit = {
    Stores.ensureTable(s, s"${name}_u$cycle", d)(upserts)
    Stores.ensureTable(s, s"${name}_t$cycle", d)(tombstones)
  }

  /** THE CYCLE DRIVER of a single-artifact delta store: write every
    * missing cycle 1..`n` in order — cycle c's segment is
    * `segment(c, prev)`, where `prev()` builds the merged view after cycle
    * c−1 (only if the segment function calls it) — and return the merged
    * view after cycle `n`. A segment with no tombstones (`None`) persists
    * the empty pk table, so every cycle has both tables. */
  def cycles(s: SparkSession, name: String, d: String, base: DataFrame,
             pk: Seq[String], n: Int)
            (segment: (Int, () => DataFrame) => (DataFrame, Option[DataFrame])): DataFrame = {
    for (c <- 1 to n if !hasCycle(s, name, d, c)) {
      val (upserts, tombstones) = segment(c, () => merged(s, name, d, base, pk, c - 1))
      writeCycle(s, name, d, c, upserts,
        tombstones.getOrElse(base.select(pk.map(col): _*).filter(lit(false))))
    }
    merged(s, name, d, base, pk, n)
  }

  /** The MERGE-ON-READ union view over base + delta segments 1..`cycles`:
    * per-pk latest-wins, in CONSTANT plan depth. The winner resolution
    * (latest upsert per pk unless a strictly-later tombstone retired it; a
    * same-cycle tombstone + upsert resolves to the upsert) runs entirely
    * over the tiny segment tables, and the bucketed base pays exactly ONE
    * broadcast anti-join regardless of segment count — the base scan
    * never exchanges, and consuming joins that broadcast their probe side
    * (the store read-path convention) are unaffected by the union. The
    * resolution tags rows with the [[Reserved]] columns, so a store
    * schema that already has one is rejected (it would be overwritten and
    * corrupt the winners). */
  def merged(s: SparkSession, name: String, d: String, base: DataFrame,
             pk: Seq[String], cycles: Int): DataFrame = {
    val clash = base.columns.filter(c => Reserved.exists(_.equalsIgnoreCase(c)))
    require(clash.isEmpty,
      s"delta store $name: column(s) ${clash.mkString(", ")} are reserved by the merge view")
    if (cycles <= 0) base
    else {
      val pkc = pk.map(col)
      val allU = (1 to cycles).map(i =>
        s.table(uTable(name, d, i)).withColumn("_cyc", lit(i))).reduce(_ unionByName _)
      val allT = (1 to cycles).map(i =>
        s.table(tTable(name, d, i)).select(pkc: _*).withColumn("_cyc", lit(i)))
        .reduce(_ unionByName _)
      val lastUp = allU.groupBy(pkc: _*).agg(max(col("_cyc")).as("_upc"))
      val lastTomb = allT.groupBy(pkc: _*).agg(max(col("_cyc")).as("_tc"))
      val live = lastUp.join(lastTomb, pk, "left_outer")
        .filter(col("_tc").isNull || col("_upc") >= col("_tc"))
        .select(pkc :+ col("_upc"): _*)
      val winners = allU.join(broadcast(live), pk)
        .filter(col("_cyc") === col("_upc"))
        .select(base.columns.map(col).toSeq: _*)
      val touched = allU.select(pkc: _*).unionByName(allT.select(pkc: _*)).distinct()
      base.join(broadcast(touched), pk, "left_anti").unionByName(winners)
    }
  }

  /** COMPACTION — the OPTIMIZE job run on a cadence: persist the merged
    * `view` after `cycles` cycles as one fresh bucketed base segment
    * (`name_c<cycles>`) so read amplification resets. Returns the
    * compacted table. The write is O(index) BY DESIGN — that is what
    * compaction is — but it is scheduled (amortized over many cycles),
    * not paid per maintenance batch; the per-cycle write stays O(Δ). */
  def compact(s: SparkSession, name: String, d: String, cycles: Int,
              bucketKeys: Seq[String], buckets: Int, view: DataFrame): DataFrame =
    Stores.ensureBucketed(s, s"${name}_c$cycles", d, bucketKeys, buckets)(view)

  // ---- additive stores (counters: per-term df, corpus scalars) -----------

  /** Persist one cycle's ADDITIVE delta — signed value rows for counter
    * stores (a BM25 df row is +1 per arriving doc containing the term,
    * −1 per departing one). O(Δ) write like [[writeCycle]]. */
  def writeAdditive(s: SparkSession, name: String, d: String, cycle: Int,
                    delta: => DataFrame): Unit =
    Stores.ensureTable(s, s"${name}_a$cycle", d)(delta)

  /** Merge-on-read for additive stores: union base + signed deltas, sum
    * per key, drop fully-retired keys (all counters zero). `keys` may be
    * empty (single-row scalar stores). */
  def mergedAdditive(s: SparkSession, name: String, d: String,
                     base: DataFrame, keys: Seq[String],
                     values: Seq[String], cycles: Int): DataFrame = {
    val all = (1 to cycles).foldLeft(base)((cur, i) =>
      cur.unionByName(s.table(aTable(name, d, i))))
    val sums = values.map(v => sum(col(v)).as(v))
    val agg =
      if (keys.isEmpty) all.agg(sums.head, sums.tail: _*)
      else all.groupBy(keys.map(col): _*).agg(sums.head, sums.tail: _*)
    if (keys.isEmpty) agg
    else agg.filter(values.map(v => col(v) =!= 0L).reduce(_ || _))
  }

  /** The (segment, kind, n_rows) MANIFEST of a delta store — the catalog
    * metadata a compaction scheduler consumes (the input shape of
    * operators/Compaction.compactionPlan: segments are the "files", row
    * counts the "sizes"; a scheduler bins small segments into rewrite
    * jobs exactly like OPTIMIZE bins small files). Counts come from the
    * PERSISTED segment tables, so a registered manifest's hash gate
    * proves the landed segments carry exactly the batch algebra the
    * cycle writers claim — a missing tombstone or a double-written
    * upsert breaks the hash. Bounded: one count job per segment,
    * metadata-sized output. */
  def manifest(s: SparkSession, name: String, d: String, base: DataFrame,
               cycles: Int): DataFrame = {
    import s.implicits._
    val rows = (("base", "base", base.count())) +:
      (1 to cycles).flatMap(i => Seq(
        (s"u$i", "upsert", s.table(uTable(name, d, i)).count()),
        (s"t$i", "tombstone", s.table(tTable(name, d, i)).count())))
    s.createDataset(rows.toSeq).toDF("segment", "kind", "n_rows")
  }

  // ---- spec / probe support ------------------------------------------------

  /** (upsert rows, tombstone rows) of one persisted cycle — the numbers
    * StoresSpec pins against the batch sizes to prove the write is O(Δ). */
  def cycleRows(s: SparkSession, name: String, d: String,
                cycle: Int): (Long, Long) =
    (s.table(uTable(name, d, cycle)).count(),
      s.table(tTable(name, d, cycle)).count())

  /** Total bytes under one cycle's segment tables (warehouse files) — the
    * write-I/O number the 10×-tier A/B compares against a full-index
    * overwrite. */
  def cycleBytes(s: SparkSession, name: String, d: String, cycle: Int): Long =
    Seq(uTable(name, d, cycle), tTable(name, d, cycle)).map { t =>
      val (fs, path) = Stores.location(s, t)
      if (fs.exists(path)) fs.getContentSummary(path).getLength else 0L
    }.sum
}
