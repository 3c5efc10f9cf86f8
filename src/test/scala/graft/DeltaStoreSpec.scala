package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, GraphOps}
import graft.sources.{DeltaStore, Stores, Tables}

/** The append-delta store layer (sources/DeltaStore): every write-back
  * cycle must persist O(Δ) rows — not an O(index) full-artifact rewrite
  * — and the merge-on-read view must equal the
  * maintained state bit-exactly (the CORRECTNESS gate re-proves the
  * latter against DuckDB; here it is pinned structurally at sf0.001 so a
  * regression fails fast). */
class DeltaStoreSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def vCyc(r: Long) =
    pmod(col("vec_id"), lit(20L)) === r

  test("IVF cycle segments carry exactly the batch rows — the write is O(Δ)") {
    val s = spark
    Stores.ivfCycle2Store(s, dir).count() // builds base + both segments
    val emb = Tables.embeddings(s, dir)
    def n(r: Long): Long = emb.filter(vCyc(r)).count()
    assert(DeltaStore.cycleRows(s, "ivfd16", dir, 1) === ((n(0L), n(5L))))
    assert(DeltaStore.cycleRows(s, "ivfd16", dir, 2) === ((n(10L), n(15L))))
    // and the segment is small against the index: the base segment holds
    // the other 16 of 20 residue classes
    val (u1, t1) = DeltaStore.cycleRows(s, "ivfd16", dir, 1)
    assert(u1 + t1 < emb.count() / 4)
  }

  test("IVF merged view equals the from-scratch post-both-batches index") {
    val s = spark
    Stores.ivfCycle2Store(s, dir).count()
    val emb = Tables.embeddings(s, dir)
    val surv = emb.filter(!vCyc(5L) && !vCyc(15L))
    val scratch = Dedup.ivfAssign(surv, Dedup.frozenCents(emb, 16))
    val merged = DeltaStore.merged(s, "ivfd16", dir,
      s.table(s"graft_store_ivfd_base16__root_testdata_sf0_001"),
      Seq("vec_id"), cycles = 2)
    assert(rows(merged.select(col("vec_id"), col("cell"))) ===
      rows(scratch.select(col("vec_id"), col("cell"))))
  }

  test("graph-ANN cycle segments persist only touched adjacency, far " +
    "smaller than the graph, with zero tombstones") {
    val s = spark
    Stores.annGraphCycle2Store(s, dir).count()
    val emb = Tables.embeddings(s, dir)
    val kNbrs = 16
    val (u1, t1) = DeltaStore.cycleRows(s, "agd", dir, 1)
    val (u2, t2) = DeltaStore.cycleRows(s, "agd", dir, 2)
    assert(t1 === 0L && t2 === 0L)
    // the O(Δ) statement is CORPUS-SIZE-INDEPENDENT: touched ≤ Δ·(1 + K
    // beam-found + S·C ring seeds) nodes, each ≤ kNbrs rows — at sf0.001
    // the batch is 5% of a tiny corpus so the delta is a large FRACTION,
    // but the analytic bound below stays fixed while the graph grows
    def bound(r: Long): Long =
      emb.filter(vCyc(r)).count() * (1L + kNbrs + 16L) * kNbrs
    assert(u1 <= bound(0L), s"cycle-1 delta $u1 exceeds the O(Δ) bound")
    assert(u2 <= bound(10L), s"cycle-2 delta $u2 exceeds the O(Δ) bound")
    // wholesale-per-node contract: ≤ kNbrs rows per touched node
    import s.implicits._
    val maxPerNode = s.table(s"graft_store_agd_u1__root_testdata_sf0_001")
      .groupBy(col("node")).count().agg(max("count")).as[Long].head()
    assert(maxPerNode <= kNbrs)
  }

  test("components upsert delta identity: base ∖ delta-nodes ∪ delta ≡ " +
    "the full maintained labeling") {
    val s = spark
    val li = Tables.lineitem(s, dir)
    val base = GraphOps.labelPropagation(
      GraphOps.copurchase(li.filter(pmod(col("l_orderkey"), lit(1000L)) =!= 0L)), 30)
      .localCheckpoint()
    val e1 = GraphOps.copurchase(
      li.filter(pmod(col("l_orderkey"), lit(2000L)) === 0L))
    val full = GraphOps.componentsUpsertFrom(base, e1)
    val delta = GraphOps.componentsUpsertDelta(base, e1)
    val assembled = base
      .join(delta.select(col("node")).distinct(), Seq("node"), "left_anti")
      .unionByName(delta)
    assert(rows(assembled) === rows(full))
  }

  test("bm25 additive df segments fold to the from-scratch df of the " +
    "final corpus") {
    val s = spark
    Stores.bm25Cycle2Store(s, dir, SparkEntry.kwTerms).count()
    val docs = Tables.documents(s, dir)
    val finalCorpus = docs.filter(
      pmod(col("doc_id"), lit(20L)) =!= 5L &&
        pmod(col("doc_id"), lit(20L)) =!= 15L)
    val scratchDf = graft.operators.Search.bm25IndexParts(finalCorpus)._1
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val mergedDf = DeltaStore.mergedAdditive(s, "bmdf", dir,
      Stores.bm25DfBase(s, dir), Seq("term"), Seq("df"), 2)
    assert(rows(mergedDf) === rows(scratchDf))
  }

  test("the probed-cell filter pushes THROUGH the merge view to a " +
    "bucket-pruned base-segment scan") {
    val s = spark
    // pre-AQE physical plan: concrete scan nodes (the Cycle2Spec pattern —
    // executedPlan wraps everything in an unexecuted AdaptiveSparkPlan)
    val plan = Stores.ivfCycle2Store(s, dir).queryExecution.sparkPlan
    val baseScans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.tableIdentifier.exists(_.table.startsWith("graft_store_ivfd_base")) => f
    }
    assert(baseScans.nonEmpty, "expected a base-segment scan")
    val sc = baseScans.head
    assert(sc.bucketedScan, "base segment must scan bucketed")
    // the anti-join + union above the scan must not block pushdown: the
    // probed-cell In() restriction reaches the parquet scan and prunes
    // buckets (SelectedBucketsCount < total) — the read stays
    // probed-cells-only exactly as the single-table store did
    assert(sc.metadata.get("PushedFilters").exists(_.contains("In(cell")),
      s"cell filter not pushed: ${sc.metadata.get("PushedFilters")}")
    assert(sc.optionalNumCoalescedBuckets.isEmpty &&
      sc.toString.contains("SelectedBucketsCount"),
      "expected a bucket-pruned scan")
  }

  test("compaction preserves the merged view and resets to one bucketed " +
    "segment") {
    val s = spark
    val viaMerged = Stores.ivfCycle2Store(s, dir)
    val viaCompact = Stores.ivfCompactStore(s, dir)
    assert(rows(viaCompact) === rows(viaMerged))
    // the compacted table is a bucketed catalog table (single segment)
    assert(s.catalog.tableExists("graft_store_ivfd16_c2__root_testdata_sf0_001"))
  }

  test("catalog-or-build: a second call rewrites no store file") {
    val s = spark
    val root = java.nio.file.Paths.get(
      s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    // relative path -> mtime of every file under a graft_store_* directory
    def snapshot(): Map[String, Long] = {
      val files = java.nio.file.Files.walk(root)
      try files.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          root.relativize(p).getName(0).toString.startsWith("graft_store_"))
        .map(p => root.relativize(p).toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .toMap
      finally files.close()
    }
    def calls(): Unit = {
      Stores.ivfCycle2Store(s, dir).count()
      Stores.componentsCycle2Store(s, dir).count()
    }
    calls()
    val before = snapshot()
    assert(before.keys.exists(_.startsWith("graft_store_ivfd16_u2_")) &&
      before.keys.exists(_.startsWith("graft_store_ccd_u2_")))
    calls()
    assert(snapshot() === before)
  }
}
