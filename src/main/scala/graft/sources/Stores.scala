package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Cluster, Dedup, GraphAnn, GraphOps, MinhashPortable, ProductQuant, ResolveInc, Search}
import graft.streaming.Streams

/** PERSISTED standing-state stores — the artifact layer between ingest and
  * query that every index-maintenance operator assumes "in production".
  *
  * The inline registrations (graph_components_del, minhash_lsh_delete,
  * bm25_delete, graph_khop) deliberately rebuild their standing state per
  * call so the CORRECTNESS gate covers the whole derivation; their `*From`
  * cores already consume the state as plain DataFrames. This module closes
  * the loop: each artifact set is written ONCE per corpus snapshot as a
  * BUCKETED catalog table (pay the shuffle at ingest, never again —
  * Writers.writeBucketed), and the `*_store` read-path registrations run
  * the same cores against the bucketed scans. The oracles are UNCHANGED:
  * the hash gate proves the store round-trip + read-path plan equals the
  * inline derivation equals the from-scratch DuckDB recompute.
  *
  * Store keys are chosen for the consuming join:
  *   - typed edges bucketed by `src`      → every BFS hop joins frontier⋈src
  *     with ZERO edge-side exchange (khopFrom's contract);
  *   - co-purchase labels bucketed by `node`, surviving edges by `src`
  *     → componentsDeleteFrom's touched-scoped recompute never re-shuffles
  *     the standing labeling;
  *   - LSH signatures and band keys bucketed by `doc_id`;
  *   - BM25 postings bucketed by `term`   → the query-term restriction is a
  *     BUCKET PRUNE (SelectedBucketsCount in the scan), doclens by `doc_id`.
  *
  * Lifecycle: every persisted table — base stores here, delta segments and
  * compactions in [[DeltaStore]] — is written through ONE primitive,
  * [[catalogOrBuild]]: if the session catalog has the table it is returned
  * as is; otherwise a leftover warehouse directory is dropped, the caller's
  * write runs, and the new table is returned. [[ensureBucketed]] and
  * [[ensureTable]] are its two write shapes. Maintenance cycles go through
  * the second primitive, [[DeltaStore.cycles]]. In this harness (in-memory
  * catalog) a store is built once per JVM; on a real deployment the build
  * is the ingest job and the catalog is Hive/Unity, so queries only ever
  * see the read path. Builders are deterministic pure functions of the
  * sf-dir inputs, so a rebuild can never change values. Table names embed
  * the sf dir, keeping sf0.001/sf0.01/sf0.1 (and /tmp stress tiers)
  * separate. Not safe against two JVMs building the SAME sf tag
  * concurrently (same spark-warehouse path) — the harness runs
  * test/verify/bench sequentially.
  */
object Stores {

  /** Catalog table of store `name` for one corpus snapshot (sf dir). */
  private[sources] def tableName(name: String, sfDir: String): String =
    s"graft_store_${name}_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}"

  /** Warehouse directory of a managed table, with its file system. */
  private[sources] def location(spark: SparkSession, table: String): (FileSystem, Path) = {
    val path = new Path(spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    (path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
  }

  /** CATALOG-OR-BUILD: return store `name`'s table, running `write(table)`
    * first if the session catalog lacks it. A table absent from this
    * session's (in-memory) catalog may still have a warehouse directory
    * left by a previous JVM — CTAS then fails with locationAlreadyExists.
    * The store is DERIVED state, so a location the catalog doesn't own is
    * safe to drop and rebuild; a real deployment's persistent catalog never
    * hits that branch. Synchronized: builders nest (a store derived from
    * another store builds it inside its own write). */
  private[sources] def catalogOrBuild(spark: SparkSession, name: String, sfDir: String)
                                     (write: String => Unit): DataFrame = synchronized {
    val table = tableName(name, sfDir)
    if (!spark.catalog.tableExists(table)) {
      val (fs, path) = location(spark, table)
      if (fs.exists(path)) fs.delete(path, true)
      write(table)
    }
    spark.table(table)
  }

  /** A store bucketed (and sorted) by `keys` — the consuming join's key. */
  private[sources] def ensureBucketed(spark: SparkSession, name: String, sfDir: String,
                                      keys: Seq[String], buckets: Int)
                                     (build: => DataFrame): DataFrame =
    catalogOrBuild(spark, name, sfDir)(Writers.writeBucketedCols(build, _, keys, buckets))

  /** A plain store, for tiny artifacts (per-term df, corpus scalars, model
    * tables) and delta segments. */
  private[sources] def ensureTable(spark: SparkSession, name: String, sfDir: String)
                                  (build: => DataFrame): DataFrame =
    catalogOrBuild(spark, name, sfDir)(build.write.mode("overwrite").saveAsTable(_))

  /** `c % mod == r` — every batch below (arrivals, departures, cycle
    * slices) is a residue class of an id column. */
  private def residue(c: String, mod: Long, r: Long): Column = pmod(col(c), lit(mod)) === r

  // ---- graph: typed edge store -------------------------------------------

  /** The typed edge union bucketed by src — the one edge shuffle every
    * src-keyed graph traversal shares (KhopProbe: ~2/3 of khop's 100× cold
    * wall was this derive+distribute step, re-paid per call). */
  def edgesBySrc(s: SparkSession, d: String): DataFrame =
    ensureBucketed(s, "edges_src", d, Seq("src"), 32) {
      GraphOps.edges(Tables.orders(s, d), Tables.lineitem(s, d))
        .select(col("src"), col("dst"))
    }

  /** Read-path k-hop: BFS over the persisted src-bucketed edge store —
    * identical semantics (and oracle) to graph_khop, but the per-call edge
    * derive/shuffle is gone; each hop exchanges only the frontier. */
  def khopStore(s: SparkSession, d: String): DataFrame = {
    val seeds = Tables.customer(s, d).filter(col("c_acctbal") > 9000)
      .select(col("c_custkey").cast("long").as("node"), lit(0L).as("hops"))
    GraphOps.khopFrom(edgesBySrc(s, d), seeds)
  }

  // ---- graph: components-delete store -------------------------------------

  private val isDelOrder = residue("l_orderkey", 1000L, 0L)

  /** Standing (node → component) labeling over the full co-purchase graph —
    * the table graph_components_del's registered form rebuilds inline
    * every call. */
  def cpLabels(s: SparkSession, d: String): DataFrame =
    ensureBucketed(s, "cp_labels", d, Seq("node"), 32) {
      GraphOps.connectedComponents(Tables.lineitem(s, d))
    }

  /** Maintained post-delete co-purchase edge store (an edge survives iff a
    * surviving order still generates it — the store owns that multiplicity),
    * bucketed by src for the scoped-recompute BFS. */
  def cpEdgesSurviving(s: SparkSession, d: String): DataFrame =
    ensureBucketed(s, "cp_surv", d, Seq("src"), 32) {
      GraphOps.copurchase(Tables.lineitem(s, d).filter(!isDelOrder))
    }

  /** The departure batch's edge set — delta-sized. */
  def cpEdgesDeleted(s: SparkSession, d: String): DataFrame =
    ensureBucketed(s, "cp_del", d, Seq("src"), 8) {
      GraphOps.copurchase(Tables.lineitem(s, d).filter(isDelOrder))
    }

  /** Read-path components-delete: O(touched) scoped recompute over the
    * persisted labeling + edge stores — the plan you'd actually run at
    * 100×; same oracle as graph_components_del (full post-delete
    * recompute in DuckDB). */
  def componentsDeleteStore(s: SparkSession, d: String): DataFrame =
    GraphOps.componentsDeleteFrom(cpLabels(s, d), cpEdgesSurviving(s, d),
      cpEdgesDeleted(s, d))

  /** Full co-purchase edge set bucketed by src — the shared standing edge
    * table of the iterative co-purchase family (pageRank's per-iteration
    * join key is src; the derive is a lineitem self-join + distinct paid
    * per call inline). */
  def cpEdgesAll(s: SparkSession, d: String): DataFrame =
    ensureBucketed(s, "cp_all", d, Seq("src"), 32) {
      GraphOps.copurchase(Tables.lineitem(s, d))
    }

  /** Read-path pageRank: iterate over the persisted co-purchase edge store
    * — same oracle as graph_pagerank (full DuckDB replay). */
  def pageRankStore(s: SparkSession, d: String): DataFrame =
    GraphOps.pageRankFrom(cpEdgesAll(s, d))

  /** The distinct supplier→part bipartite edge set bucketed by src — the
    * standing edge table HITS re-derives (lineitem scan + distinct) per
    * inline call. */
  def hitsEdgeStore(s: SparkSession, d: String): DataFrame =
    ensureBucketed(s, "hits_edges", d, Seq("src"), 32) {
      GraphOps.hitsEdges(Tables.lineitem(s, d))
    }

  /** Read-path HITS: the alternating half-round iteration over the
    * persisted bipartite edge store — same oracle as graph_hits. */
  def hitsStore(s: SparkSession, d: String): DataFrame =
    GraphOps.hitsFrom(hitsEdgeStore(s, d))

  /** Standing (node → component) labeling over the BASE corpus (the corpus
    * before the arrival batch, l_orderkey%1000 != 0) — derived from the
    * surviving-edge store with one bucketed read, never re-deriving edges.
    * This is the labeling componentsUpsert rebuilds inline per call. */
  def cpLabelsBase(s: SparkSession, d: String): DataFrame =
    ensureBucketed(s, "cp_base_labels", d, Seq("node"), 32) {
      GraphOps.labelPropagation(cpEdgesSurviving(s, d), 30)
    }

  /** Read-path components-upsert: O(Δ) label-graph merge over the persisted
    * base labeling + the arrival batch's edge store (the same %1000==0
    * slice the delete direction retires — arrival there, departure here) —
    * the full-CC standing-state rebuild is gone from the plan. Same oracle
    * as graph_components_inc (full post-arrival recompute in DuckDB). */
  def componentsUpsertStore(s: SparkSession, d: String): DataFrame =
    GraphOps.componentsUpsertFrom(cpLabelsBase(s, d), cpEdgesDeleted(s, d))

  /** The composed TWO-CYCLE maintained components labeling over the DELTA
    * store (cpLabelsBase is the base segment). Cycle c's arrivals are the
    * orders l_orderkey % 2000 == 1000(c−1); its segment carries only the
    * CHANGED label rows (brand-new nodes + standing nodes whose label
    * rewrites under the merge mapping — GraphOps.componentsUpsertDelta),
    * computed against the previous merge-on-read view so the segments
    * compose like successive in-memory passes. The upsert direction only
    * grows/merges, so no tombstones. Final corpus = the full co-purchase
    * graph, so the oracle is componentsSql() VERBATIM. */
  def componentsCycle2Store(s: SparkSession, d: String): DataFrame =
    DeltaStore.cycles(s, "ccd", d, cpLabelsBase(s, d), Seq("node"), 2) { (c, prev) =>
      val arrivals = Tables.lineitem(s, d).filter(residue("l_orderkey", 2000L, 1000L * (c - 1)))
      (GraphOps.componentsUpsertDelta(prev(), GraphOps.copurchase(arrivals)), None)
    }

  // ---- dedup: minhash-LSH index store --------------------------------------

  private val isDelDoc = residue("doc_id", 10L, 0L)

  /** Standing portable-minhash signature table (doc_id, perm, minh). */
  def mhSignatures(s: SparkSession, d: String): DataFrame =
    ensureBucketed(s, "mh_sig", d, Seq("doc_id"), 32) {
      MinhashPortable.minhashPortable(Tables.documents(s, d))
    }

  /** Standing LSH band-key table (16 perms in 4 bands of 4 rows), bucketed
    * by doc_id like the signatures (the keyed-delete co-location). NOT
    * bucketed by (band, bkey): that layout makes the candidate self-join
    * exchange-free but pins one task per bucket, and band-key buckets are
    * HOT-SKEWED (near-dup cliques share a bucket) — measured at sf0.1, the
    * skew-bound bucketed join ran ~1.5× slower than letting AQE split the
    * shuffled join. Derived FROM the signature store (one read), not
    * re-sketched. */
  def mhBandKeys(s: SparkSession, d: String): DataFrame =
    ensureBucketed(s, "mh_keys", d, Seq("doc_id"), 32) {
      MinhashPortable.bandKeys(mhSignatures(s, d), 4)
    }

  /** Read-path LSH delete: keyed anti-join over the persisted signature +
    * band-key stores, surviving pairs emitted from the maintained index —
    * nothing re-sketched; same oracle as minhash_lsh_delete. */
  def minhashLshDeleteStore(s: SparkSession, d: String): DataFrame = {
    val delIds = Tables.documents(s, d).filter(isDelDoc).select(col("doc_id"))
    MinhashPortable.minhashLshDeleteFrom(mhSignatures(s, d), mhBandKeys(s, d), delIds)
  }

  /** Read-path LSH upsert: sketch ONLY the arrival batch and join it
    * against the persisted base-slice index (ri_sig/ri_keys — the same
    * standing artifacts the resolve loop maintains); nothing standing is
    * re-sketched. Same oracle as minhash_lsh_upsert. */
  def minhashLshUpsertStore(s: SparkSession, d: String): DataFrame =
    MinhashPortable.minhashLshUpsertFrom(riSignatures(s, d), riBandKeys(s, d),
        Tables.documents(s, d).filter(isDelDoc))
      .withColumn("kind",
        when(pmod(col("doc_a"), lit(10L)) === 0L && pmod(col("doc_b"), lit(10L)) === 0L,
          lit("delta_delta")).otherwise(lit("delta_base")))

  /** Read-path CDC emission of LSH upsert: the arrival batch is sketched
    * alone, the standing index comes from the persisted base-slice stores,
    * and the output is the three-part changefeed ('S'/'K' artifact
    * appends + 'P' created pairs) — O(Δ) emission where the plain store
    * rung's surviving-pair restatement was the measured 100× output
    * ceiling. Same oracle as minhash_lsh_upsert_delta. */
  def minhashLshUpsertDeltaStore(s: SparkSession, d: String): DataFrame =
    MinhashPortable.minhashLshUpsertDeltaFrom(riSignatures(s, d), riBandKeys(s, d),
      Tables.documents(s, d).filter(isDelDoc))

  // ---- dedup: maintained-resolve standing state (base = pre-arrival) ------

  private val isDepartureDoc = residue("doc_id", 10L, 5L)

  /** Standing resolve-loop signatures over the BASE corpus (pre-arrival
    * slice, doc_id%10 != 0) — bucketed by doc_id (keyed-delete
    * co-location, same rationale as mh_sig). */
  def riSignatures(s: SparkSession, d: String): DataFrame =
    ensureBucketed(s, "ri_sig", d, Seq("doc_id"), 32) {
      MinhashPortable.minhashPortable(Tables.documents(s, d).filter(!isDelDoc))
    }

  /** Standing band keys, derived FROM the signature store (one bucketed
    * read — never re-sketched). */
  def riBandKeys(s: SparkSession, d: String): DataFrame =
    ensureBucketed(s, "ri_keys", d, Seq("doc_id"), 32) {
      MinhashPortable.bandKeys(riSignatures(s, d), 4)
    }

  /** The standing pair table of the base corpus, bucketed by doc_a (the
    * retire/survive splits key on the pair endpoints). Derived from the
    * two index stores. */
  def riPairs(s: SparkSession, d: String): DataFrame =
    ensureBucketed(s, "ri_pairs", d, Seq("doc_a"), 32) {
      MinhashPortable.pairsFromIndex(riSignatures(s, d), riBandKeys(s, d))
    }

  /** The standing cluster labeling of the base corpus, bucketed by node —
    * derived from the pair store, maintained (never rebuilt) by the
    * resolve loop. */
  def riLabels(s: SparkSession, d: String): DataFrame =
    ensureBucketed(s, "ri_labels", d, Seq("node"), 32) {
      GraphOps.labelPropagation(riPairs(s, d)
        .select(col("doc_a").as("src"), col("doc_b").as("dst")))
    }

  /** Read-path maintained resolve — THE production dedup loop served from
    * the four persisted standing artifacts: one arrival batch + one
    * departure batch maintained with O(Δ) pair work and O(touched)
    * relabeling, no standing-corpus re-sketch (ResolveIncProbe measures
    * the same core at 82 s vs a 398 s full re-resolve, 100× bounded-touch
    * tier). Same oracle as dedup_resolve_inc: the gate proves store
    * round-trip + maintenance ≡ a from-scratch post-change re-resolve. */
  def resolveIncStore(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    ResolveInc.resolveIncFrom(riSignatures(s, d), riBandKeys(s, d),
      riPairs(s, d), riLabels(s, d),
      docs.filter(isDelDoc), docs.filter(isDepartureDoc).select(col("doc_id")))
  }

  // ---- dedup: resolve WRITE-BACK cycle (the day-2 loop) --------------------

  /** The four merge-on-read views of the resolve delta store after
    * `cycles` maintenance cycles — base segments are the standing ri_*
    * stores; each cycle's segment carries only the O(Δ) artifact deltas
    * (ResolveInc.maintainDeltas). */
  private def resolveMerged(s: SparkSession, d: String, cycles: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = (
    DeltaStore.merged(s, "rsig", d, riSignatures(s, d), Seq("doc_id"), cycles),
    DeltaStore.merged(s, "rkeys", d, riBandKeys(s, d), Seq("doc_id"), cycles),
    DeltaStore.merged(s, "rpairs", d, riPairs(s, d), Seq("doc_a", "doc_b"), cycles),
    DeltaStore.merged(s, "rlab", d, riLabels(s, d), Seq("node"), cycles))

  /** The composed TWO-CYCLE maintained resolve over the DELTA store. Cycle
    * c's arrivals are doc_id % 20 == 10(c−1), its departures 10(c−1)+5;
    * one cycle writes FOUR segments from one maintenance pass (sketch rows
    * and band keys of the arrivals, surviving created pairs + retired pair
    * keys, changed labeling rows), computed against the previous cycle's
    * merge-on-read views — which is why this family keeps its own script
    * instead of [[DeltaStore.cycles]]. The keep/drop verdicts serve from
    * the merged labeling view. Oracle UNCHANGED: one from-scratch
    * fixed-point re-resolve of the corpus after both batches
    * (resolveCycle2Sql). */
  def resolveCycle2Store(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val artifacts = Seq("rsig", "rkeys", "rpairs", "rlab")
    for (c <- 1 to 2 if !artifacts.forall(DeltaStore.hasCycle(s, _, d, c))) {
      val (sigB, keysB, pairsB, labelsB) = resolveMerged(s, d, c - 1)
      val dep = docs.filter(residue("doc_id", 20L, 10L * (c - 1) + 5L)).select(col("doc_id"))
      val (sigU, keysU, pairsU, pairsT, labelsU, labelsT) =
        ResolveInc.maintainDeltas(sigB, keysB, pairsB, labelsB,
          docs.filter(residue("doc_id", 20L, 10L * (c - 1))), dep)
      DeltaStore.writeCycle(s, "rsig", d, c, sigU, dep)
      DeltaStore.writeCycle(s, "rkeys", d, c, keysU, dep)
      DeltaStore.writeCycle(s, "rpairs", d, c, pairsU, pairsT)
      DeltaStore.writeCycle(s, "rlab", d, c, labelsU, labelsT)
    }
    DeltaStore.merged(s, "rlab", d, riLabels(s, d), Seq("node"), cycles = 2)
      .select(col("node").as("doc_id"), col("label").as("canonical_id"),
        (col("node") === col("label")).as("keep"))
  }

  // ---- dedup: semdedup trained partition -----------------------------------

  /** The vec_id %10 == 0 slice: the arrivals of the upsert rungs, the
    * departures of the delete rungs; the rest is the standing base. */
  private val isDeltaVec = residue("vec_id", 10L, 0L)

  /** The trained semdedup corpus partition (cluster, vec_id, embedding)
    * bucketed by cluster — k-means training + assignment paid once at
    * ingest; the within-cluster self-join then reads both sides from the
    * SAME bucketed table and runs with zero exchange. Cluster count is the
    * corpus-scaled k (Cluster.scaledK), identical to the inline form. */
  def semdedupClusters(s: SparkSession, d: String): DataFrame =
    ensureBucketed(s, "semdedup_asg", d, Seq("cluster"), 32) {
      val emb = Tables.embeddings(s, d)
      Cluster.semdedupAssigned(emb, Cluster.scaledK(emb), iters = 1)
    }

  /** Read-path semdedup: the within-cluster near-dup pair join over the
    * persisted partition — no per-call k-means train/assign pass, and the
    * cluster-keyed self-join is exchange-free off the bucketed store.
    * Same oracle as semdedup. */
  def semdedupStore(s: SparkSession, d: String): DataFrame =
    Cluster.semdedupPairsFrom(semdedupClusters(s, d))

  /** The BASE-trained frozen semdedup quantizer (cell, embedding) — the
    * model artifact of the upsert rung, trained once on the base slice
    * (vec_id%10 != 0) BEFORE any arrival exists (the production
    * timeline), persisted so the read path never re-trains. Bounded:
    * ≤ kMax rows of 64 floats. */
  private def semdedupCentsBase(s: SparkSession, d: String): DataFrame =
    ensureTable(s, "sd_cents_base", d) {
      import s.implicits._
      val base = Tables.embeddings(s, d).filter(!isDeltaVec)
      val cents = Cluster.trainCentroids(base, Cluster.scaledK(base), iters = 1)
      s.createDataset(cents.toSeq).toDF("cell", "embedding")
    }

  /** The standing BASE-slice partition (cluster, vec_id, embedding) under
    * the frozen base-trained quantizer, bucketed by cluster. */
  private def semdedupBaseClusters(s: SparkSession, d: String): DataFrame =
    ensureBucketed(s, "sd_asg_base", d, Seq("cluster"), 32) {
      Cluster.assignUnder(Tables.embeddings(s, d).filter(!isDeltaVec),
        collectCents(semdedupCentsBase(s, d)))
    }

  private def collectCents(tbl: DataFrame): Array[(Long, Array[Float])] = {
    import tbl.sparkSession.implicits._
    tbl.select(col("cell"), col("embedding")).as[(Long, Array[Float])]
      .collect().sortBy(_._1)
  }

  /** Read-path semdedup upsert: arrivals assigned under the PERSISTED
    * frozen model (bounded collect — the model-parameter class), created
    * pairs joined against the persisted base partition. No per-call
    * k-means training, no standing row re-assigned. Same oracle as
    * semdedup_upsert. */
  def semdedupUpsertStore(s: SparkSession, d: String): DataFrame = {
    val arrivals = Tables.embeddings(s, d).filter(isDeltaVec)
    Cluster.semdedupUpsertFrom(semdedupBaseClusters(s, d),
      Cluster.assignUnder(arrivals, collectCents(semdedupCentsBase(s, d))))
  }

  /** Read-path semdedup delete: the retired-pair join reads BOTH sides
    * from the persisted cluster-bucketed partition — exchange-free, and
    * anchored on the departures so only touched cells are scanned. Same
    * oracle as semdedup_delete. */
  def semdedupDeleteStore(s: SparkSession, d: String): DataFrame =
    Cluster.semdedupDeleteFrom(semdedupClusters(s, d), isDeltaVec)

  /** The persisted HIERARCHICAL two-level semdedup partition (composite
    * cluster = cell·2³² + sub) bucketed by cluster — the scale-path
    * quantizer's standing artifact: the two-level train/assign (coarse
    * Lloyd + per-cell sub-Lloyd) is paid once at ingest. */
  private def semdedupHierClusters(s: SparkSession, d: String): DataFrame =
    ensureBucketed(s, "sd_hier_asg", d, Seq("cluster"), 32) {
      Cluster.hierAssigned(Tables.embeddings(s, d), targetCell = 64, fan = 64,
        kMin = 8, kMax = 4096, iters = 1)
    }

  /** Read-path hierarchical semdedup: the within-(cell, sub) pair join
    * over the persisted two-level partition — exchange-free off the one
    * bucketed table, no per-call two-level training. Same oracle as
    * semdedup_hier. */
  def semdedupHierStore(s: SparkSession, d: String): DataFrame =
    Cluster.semdedupPairsFrom(semdedupHierClusters(s, d))

  /** Read-path hierarchical semdedup upsert over the three persisted
    * artifacts of the BASE-trained frozen TWO-LEVEL quantizer: coarse
    * centroids (≤ kMax rows, collected — the bounded model-parameter
    * class), sub-centroids keyed by cell (the distributed half of the
    * model, joined from the catalog) and the standing base partition
    * bucketed by cluster. The model is trained once on the base slice,
    * before any arrival exists, and only if a table is missing; arrivals
    * are assigned under it and the created pairs emitted against the base
    * partition. NO training anywhere in a warm call. Same oracle as
    * semdedup_hier_upsert. */
  def semdedupHierUpsertStore(s: SparkSession, d: String): DataFrame = {
    lazy val base = Tables.embeddings(s, d).filter(!isDeltaVec)
    lazy val (modelCents, modelSeeds, _) = Cluster.hierModel(base, targetCell = 64,
      fan = 64, kMin = 8, kMax = 4096, iters = 1)
    val cents = ensureTable(s, "sdh_cents_base", d) {
      import s.implicits._
      s.createDataset(modelCents.toSeq).toDF("cell", "embedding")
    }
    val seeds = ensureTable(s, "sdh_seeds_base", d)(modelSeeds)
    val asg = ensureBucketed(s, "sdh_asg_base", d, Seq("cluster"), 32) {
      Cluster.hierAssignUnder(base, modelCents, modelSeeds)
    }
    val arrivals = Tables.embeddings(s, d).filter(isDeltaVec)
    Cluster.semdedupUpsertFrom(asg,
      Cluster.hierAssignUnder(arrivals, collectCents(cents), seeds))
  }

  /** The composed TWO-CYCLE maintained semdedup over the DELTA store. The
    * cycle family's frozen quantizer is persisted WITH the partition
    * (sdc1_cents) so every cycle assigns its arrivals from the catalog
    * instead of re-training; assignment under it is a pure per-vector
    * function, so a cycle's segment is exactly (assigned arrivals,
    * departure ids) over the base partition (vec_id % 20 ∉ {0, 10}). The
    * within-cluster pair set serves from the merge-on-read view. Oracle
    * UNCHANGED: one from-scratch replay over the survivors under the
    * frozen quantizer (semdedupCycle2Sql). */
  def semdedupCycle2Store(s: SparkSession, d: String): DataFrame = {
    val base = ensureBucketed(s, "sdd_base", d, Seq("cluster"), 32) {
      Cluster.assignUnder(Tables.embeddings(s, d).filter(preArrival(20L, 2)),
        semdedupCycleCents(s, d))
    }
    lazy val cents = semdedupCycleCents(s, d)
    Cluster.semdedupPairsFrom(vectorCycles(s, d, "sdd", base, Tables.embeddings(s, d),
      20L, 2)(Cluster.assignUnder(_, cents)))
  }

  private def semdedupCycleCents(s: SparkSession, d: String): Array[(Long, Array[Float])] =
    collectCents(ensureTable(s, "sdc1_cents", d) {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      s.createDataset(
        Cluster.trainCentroids(emb, Cluster.scaledK(emb), iters = 1).toSeq)
        .toDF("cell", "embedding")
    })

  // ---- similarity: k-NN graph store ----------------------------------------

  /** The persisted NN-descent k-NN graph (node, nbr, cos) bucketed by node
    * — the graph-ANN index built once at ingest; beam search joins on
    * node every round. */
  def knnGraphStore(s: SparkSession, d: String): DataFrame =
    ensureBucketed(s, "ann_graph", d, Seq("node"), 32) {
      GraphAnn.knnGraph(Tables.embeddings(s, d))
    }

  /** Read-path graph-ANN: beam search over the persisted graph — queries
    * pay only the walk; same oracle as ann_graph. */
  def annGraphStore(s: SparkSession, d: String): DataFrame =
    GraphAnn.annGraphSearchFrom(knnGraphStore(s, d), Tables.embeddings(s, d))

  /** The WIDENED-build k-NN graph (kBuild=32 descent truncated to the same
    * kNbrs=16 searched width): NN-descent at the searched width leaves
    * exact neighbors graph-unreachable (search recall 0.967 at the 10×
    * tier, where more search rounds do NOT help); descending 2× wide and
    * truncating closes it (1.000, GraphAnnProbe) for ~2.6× build cost paid
    * once at ingest. The searched graph is the same size, so query cost is
    * unchanged. */
  def knnGraphStoreWide(s: SparkSession, d: String): DataFrame =
    ensureBucketed(s, "ann_graph_w", d, Seq("node"), 32) {
      GraphAnn.knnGraph(Tables.embeddings(s, d), kBuild = 32)
    }

  /** Read-path graph-ANN over the widened-build persisted graph. */
  def annGraphStoreWide(s: SparkSession, d: String): DataFrame =
    GraphAnn.annGraphSearchFrom(knnGraphStoreWide(s, d), Tables.embeddings(s, d))

  /** The BASE-slice persisted k-NN graph (vec_id%10 != 0 corpus) — the
    * standing index the graph-ANN upsert direction maintains. */
  def knnGraphStoreBase(s: SparkSession, d: String): DataFrame =
    ensureBucketed(s, "ann_graph_base", d, Seq("node"), 32) {
      GraphAnn.knnGraph(Tables.embeddings(s, d).filter(!isDeltaVec))
    }

  /** Read-path graph-ANN upsert: arrival batch beam-searches the PERSISTED
    * base graph and one touched-scoped descent round repairs it — the
    * standing index is never rebuilt; same oracle as ann_graph_upsert. */
  def annGraphUpsertStore(s: SparkSession, d: String): DataFrame =
    GraphAnn.annGraphUpsertFrom(knnGraphStoreBase(s, d), Tables.embeddings(s, d))

  /** Read-path graph-ANN delete: keyed drop + touched adjacency re-fill
    * over the PERSISTED full graph; same oracle as ann_graph_delete. */
  def annGraphDeleteStore(s: SparkSession, d: String): DataFrame =
    GraphAnn.annGraphDeleteFrom(knnGraphStore(s, d), Tables.embeddings(s, d))

  /** The graph staleness monitor served from the PERSISTED base graph —
    * the production shape: the monitor runs against the standing index,
    * never building one. Same oracle as the gate-coverage inline form
    * (the persisted graph is the inline build bit-exactly — the
    * ann_graph_store identity). */
  def annGraphDriftStore(s: SparkSession, d: String): DataFrame =
    GraphAnn.annGraphDriftFrom(knnGraphStoreBase(s, d), Tables.embeddings(s, d))

  // ---- vector delta stores: the shared cycle shape ---------------------------

  /** No arrival class of an `n`-cycle store: vec_id % mod ∉ {0, 10, …}. */
  private def preArrival(mod: Long, n: Int): Column =
    (0 until n).map(i => !residue("vec_id", mod, 10L * i)).reduce(_ && _)

  /** The cycle shape of the frozen-model vector stores on
    * [[DeltaStore.cycles]]: cycle c upserts the arrival class
    * vec_id % mod == 10(c−1) of `emb` through `encode` — a pure per-vector
    * function of a frozen model, so nothing standing is re-encoded or
    * re-written — and tombstones the departure class 10(c−1)+5. */
  private def vectorCycles(s: SparkSession, d: String, name: String, base: DataFrame,
                           emb: DataFrame, mod: Long, n: Int)
                          (encode: DataFrame => DataFrame): DataFrame =
    DeltaStore.cycles(s, name, d, base, Seq("vec_id"), n) { (c, _) =>
      val r = 10L * (c - 1)
      (encode(emb.filter(residue("vec_id", mod, r))),
        Some(emb.filter(residue("vec_id", mod, r + 5L)).select(col("vec_id"))))
    }

  // ---- ann: k-NN graph WRITE-BACK cycle ------------------------------------

  /** The composed TWO-CYCLE maintained graph-ANN search over the DELTA
    * store. The base segment is the k-NN graph over vec_id % 20 ∉ {0, 10};
    * cycle c's arrivals are vec_id % 20 == 10(c−1), and its segment
    * carries ONLY the touched-node adjacency (GraphAnn.upsertedGraphDelta
    * — arrivals + base nodes that adopted a reverse edge or entered the
    * local descent round, O(|touched|·K) rows), computed against the
    * previous merge-on-read view. The upsert direction only grows, so no
    * tombstones. Beam search runs over the merged view (untouched base
    * adjacency verbatim, latest touched rows win). Oracle =
    * annGraphCycle2Sql's full replay, UNCHANGED. */
  def annGraphCycle2Store(s: SparkSession, d: String): DataFrame = {
    val base = ensureBucketed(s, "ann_graph_b20", d, Seq("node"), 32) {
      GraphAnn.knnGraph(Tables.embeddings(s, d).filter(preArrival(20L, 2)))
    }
    val emb = Tables.embeddings(s, d)
    val merged = DeltaStore.cycles(s, "agd", d, base, Seq("node"), 2) { (c, prev) =>
      // cycle 1's corpus excludes cycle 2's arrivals — they have not arrived
      val corpus = if (c == 1) emb.filter(!residue("vec_id", 20L, 10L)) else emb
      (GraphAnn.upsertedGraphDelta(prev(), corpus, arrPred = residue("vec_id", 20L, 10L * (c - 1))),
        None)
    }
    GraphAnn.annGraphSearchFrom(merged, Tables.embeddings(s, d))
  }

  // ---- search: BM25 index store --------------------------------------------

  /** Standing postings (term, doc_id, n_occ) bucketed by term: the query-
    * term restriction becomes a bucket prune — the index never scans
    * outside the queried terms' buckets. */
  def bm25Postings(s: SparkSession, d: String): DataFrame =
    ensureBucketed(s, "bm25_post", d, Seq("term"), 32) {
      Search.bm25IndexParts(Tables.documents(s, d))._1
    }

  /** Standing per-doc lengths bucketed by doc_id. */
  def bm25Doclens(s: SparkSession, d: String): DataFrame =
    ensureBucketed(s, "bm25_dl", d, Seq("doc_id"), 32) {
      Search.bm25IndexParts(Tables.documents(s, d))._2
    }

  /** Standing per-term document frequency — derived from the postings
    * STORE (one bucketed read), never from text. */
  def bm25Df(s: SparkSession, d: String): DataFrame =
    ensureTable(s, "bm25_df", d) {
      bm25Postings(s, d).groupBy(col("term")).agg(count(lit(1)).as("df"))
    }

  /** Standing corpus scalars (N, Σlen) — one row, derived from the doclens
    * store. */
  def bm25Scalars(s: SparkSession, d: String): DataFrame =
    ensureTable(s, "bm25_sc", d) {
      bm25Doclens(s, d).agg(count(lit(1)).as("n_docs"), sum(col("len")).as("sum_len"))
    }

  /** Read-path BM25 delete: subtract the departure batch from the four
    * persisted artifacts and score the query terms from the result — the
    * postings read is term-bucket-pruned; same oracle as bm25_delete. */
  def bm25DeleteStore(s: SparkSession, d: String, terms: Seq[String]): DataFrame = {
    val delDocs = Tables.documents(s, d).filter(isDelDoc)
    Search.bm25DeleteFrom(bm25Postings(s, d), bm25Doclens(s, d),
      bm25Df(s, d), bm25Scalars(s, d), delDocs, terms)
  }

  /** Base-slice (pre-arrival, doc_id%10 != 0) BM25 artifacts — the standing
    * index the upsert direction maintains. Same layouts as the full-corpus
    * stores above. */
  def bm25PostingsBase(s: SparkSession, d: String): DataFrame =
    ensureBucketed(s, "bm25u_post", d, Seq("term"), 32) {
      Search.bm25IndexParts(Tables.documents(s, d).filter(!isDelDoc))._1
    }

  def bm25DoclensBase(s: SparkSession, d: String): DataFrame =
    ensureBucketed(s, "bm25u_dl", d, Seq("doc_id"), 32) {
      Search.bm25IndexParts(Tables.documents(s, d).filter(!isDelDoc))._2
    }

  def bm25DfBase(s: SparkSession, d: String): DataFrame =
    ensureTable(s, "bm25u_df", d) {
      bm25PostingsBase(s, d).groupBy(col("term")).agg(count(lit(1)).as("df"))
    }

  def bm25ScalarsBase(s: SparkSession, d: String): DataFrame =
    ensureTable(s, "bm25u_sc", d) {
      bm25DoclensBase(s, d).agg(count(lit(1)).as("n_docs"), sum(col("len")).as("sum_len"))
    }

  /** Read-path BM25 upsert: tokenize ONLY the arrival batch, maintain the
    * four persisted base-slice artifacts additively, and score — no
    * standing text re-read; same oracle as bm25_upsert. */
  def bm25UpsertStore(s: SparkSession, d: String, terms: Seq[String]): DataFrame =
    Search.bm25UpsertFrom(bm25PostingsBase(s, d), bm25DoclensBase(s, d),
      bm25DfBase(s, d), bm25ScalarsBase(s, d),
      Tables.documents(s, d).filter(isDelDoc), terms)

  /** Pure read-path BM25 search: score the query terms from the four
    * persisted artifacts with ZERO maintenance or tokenize work — the
    * serving call. The postings read is a term bucket prune; df/scalars
    * are tiny broadcast tables. Oracle = the tokenized from-scratch
    * recompute over the full corpus (bm25_upsert's oracle). */
  def bm25SearchStore(s: SparkSession, d: String, terms: Seq[String]): DataFrame =
    Search.bm25SearchFrom(bm25Postings(s, d), bm25Doclens(s, d),
      bm25Df(s, d), bm25Scalars(s, d), terms)

  // ---- search: BM25 WRITE-BACK cycle ---------------------------------------

  /** The composed TWO-CYCLE maintained BM25 search over the DELTA store,
    * over the four base-slice artifacts. Cycle c's arrivals are
    * doc_id % 20 == 10(c−1), its departures 10(c−1)+5. Postings/doclens
    * segments carry the arrivals' rows + departure tombstones (pure
    * per-doc functions — O(Δ text) tokenize, O(Δ) write) and merge
    * latest-wins; df and the corpus scalars are ADDITIVE counters, so
    * their segments carry signed value rows (+1 per arriving doc
    * containing the term, −1 per departing one) merged by summation — the
    * reason this family keeps its own script instead of
    * [[DeltaStore.cycles]]. Oracle UNCHANGED: one from-scratch index of the
    * corpus after both batches (bm25Cycle2Sql). */
  def bm25Cycle2Store(s: SparkSession, d: String, terms: Seq[String]): DataFrame = {
    val docs = Tables.documents(s, d)
    for (c <- 1 to 2) {
      lazy val (arrPost, arrDl) =
        Search.bm25IndexParts(docs.filter(residue("doc_id", 20L, 10L * (c - 1))))
      lazy val depDocs = docs.filter(residue("doc_id", 20L, 10L * (c - 1) + 5L))
      lazy val (depPost, depDl) = Search.bm25IndexParts(depDocs)
      DeltaStore.writeCycle(s, "bmp", d, c, arrPost, depDocs.select(col("doc_id")))
      DeltaStore.writeCycle(s, "bmdl", d, c, arrDl, depDocs.select(col("doc_id")))
      DeltaStore.writeAdditive(s, "bmdf", d, c,
        arrPost.groupBy(col("term")).agg(count(lit(1)).as("df"))
          .unionByName(depPost.groupBy(col("term"))
            .agg((count(lit(1)) * -1).as("df"))))
      DeltaStore.writeAdditive(s, "bmsc", d, c,
        arrDl.agg(count(lit(1)).as("n_docs"), sum(col("len")).as("sum_len"))
          .unionByName(depDl.agg((count(lit(1)) * -1).as("n_docs"),
            (sum(col("len")) * -1).as("sum_len"))))
    }
    Search.bm25SearchFrom(
      DeltaStore.merged(s, "bmp", d, bm25PostingsBase(s, d), Seq("doc_id"), 2),
      DeltaStore.merged(s, "bmdl", d, bm25DoclensBase(s, d), Seq("doc_id"), 2),
      DeltaStore.mergedAdditive(s, "bmdf", d, bm25DfBase(s, d),
        Seq("term"), Seq("df"), 2),
      DeltaStore.mergedAdditive(s, "bmsc", d, bm25ScalarsBase(s, d),
        Seq.empty, Seq("n_docs", "sum_len"), 2),
      terms)
  }

  // ---- streaming: state snapshots ------------------------------------------

  /** Standing per-key CDC upsert state (key, last_seq, version, live)
    * after an ops prefix — the checkpoint-boundary snapshot a streaming
    * deployment bootstraps from (flatMapGroupsWithState initialState),
    * bucketed by key. The build replays the prefix through the SAME
    * transition the stream runs (Streams.upsertStateSnapshot). The prefix
    * boundary is part of the snapshot identity: another batch split must
    * build its own store, so the name carries the prefix length. */
  def upsertStateStore(s: SparkSession, d: String, prefix: Seq[Streams.Upsert]): DataFrame =
    ensureBucketed(s, s"upsert_state_${prefix.length}", d, Seq("key"), 32) {
      import s.implicits._
      Streams.upsertStateSnapshot(s.createDataset(prefix))
        .toDF("key", "last_seq", "version", "live")
    }

  /** The streaming member of the WRITE-BACK cycle matrix: the persisted
    * snapshot advanced through the NEXT batch's ops FROM the store
    * (Streams.upsertStateSnapshotFrom — history never re-replayed), the
    * advance persisted as a one-cycle DELTA SEGMENT (only the batch's keys
    * move, so the segment is O(touched keys)), and the next
    * checkpoint-boundary snapshot served as the merge-on-read view. The
    * name carries both boundary lengths, as for upsertStateStore. */
  def upsertStateStoreCycle2(s: SparkSession, d: String, prefix: Seq[Streams.Upsert],
                             batch: Seq[Streams.Upsert]): DataFrame = {
    import s.implicits._
    val base = upsertStateStore(s, d, prefix)
    val touched = batch.map(_.key).distinct
    DeltaStore.cycles(s, s"upsd_${prefix.length}_${batch.length}", d, base,
        Seq("key"), 1) { (_, _) =>
      // per-key transitions are independent, so advancing ONLY the touched
      // keys IS the full advance restricted to them
      val init = base.filter(col("key").isin(touched: _*))
        .select(col("key").as("_1"), col("last_seq").as("_2"),
          col("version").as("_3"), col("live").as("_4"))
        .as[(Long, Long, Long, Boolean)]
      (Streams.upsertStateSnapshotFrom(init, s.createDataset(batch))
        .toDF("key", "last_seq", "version", "live"), None)
    }
  }

  /** Standing per-user OPEN-session state (user_id, session_id, start_us,
    * last_us, n) after an event prefix — the sessionization snapshot a
    * streaming deployment bootstraps from, bucketed by user_id. Built by
    * replaying the prefix through the SAME sessionStep transition the
    * stream runs; prefix length in the name, as for upsertStateStore. */
  def sessionStateStore(s: SparkSession, d: String, prefix: Seq[Streams.Event]): DataFrame =
    ensureBucketed(s, s"session_state_${prefix.length}", d, Seq("user_id"), 32) {
      import s.implicits._
      Streams.sessionStateSnapshot(s.createDataset(prefix))
        .toDF("user_id", "session_id", "start_us", "last_us", "n")
    }

  /** The session analog of [[upsertStateStoreCycle2]]: the persisted
    * OPEN-session snapshot advanced through the next batch's events FROM
    * the store (Streams.sessionStateSnapshotFrom), persisted as an
    * O(touched-users) delta segment, and served as the merge-on-read
    * view. */
  def sessionStateStoreCycle2(s: SparkSession, d: String, prefix: Seq[Streams.Event],
                              batch: Seq[Streams.Event]): DataFrame = {
    import s.implicits._
    val base = sessionStateStore(s, d, prefix)
    val touched = batch.map(_.user_id).distinct
    DeltaStore.cycles(s, s"sesd_${prefix.length}_${batch.length}", d, base,
        Seq("user_id"), 1) { (_, _) =>
      val init = base.filter(col("user_id").isin(touched: _*))
        .select(col("user_id").as("_1"), col("session_id").as("_2"),
          col("start_us").as("_3"), col("last_us").as("_4"), col("n").as("_5"))
        .as[(Long, Long, Long, Long, Long)]
      (Streams.sessionStateSnapshotFrom(init, s.createDataset(batch))
        .toDF("user_id", "session_id", "start_us", "last_us", "n"), None)
    }
  }

  /** Standing LSH-bucket retained-signature state (bucket, doc_id, sig)
    * after a doc prefix — the near-dedup stream's checkpoint-boundary
    * snapshot, bucketed by the LSH bucket key (the state shard key). Built
    * by replaying the prefix through the SAME retain-first transition the
    * stream runs (Streams.nearDedupStateSnapshot); prefix length in the
    * name, as for the other stream-state stores. */
  def nearDedupStateStore(s: SparkSession, d: String, prefix: Seq[Streams.Doc]): DataFrame =
    ensureBucketed(s, s"neardedup_state_${prefix.length}", d, Seq("bucket"), 32) {
      import s.implicits._
      Streams.nearDedupStateSnapshot(s.createDataset(prefix))
        .toDF("bucket", "doc_id", "sig")
    }

  /** The near-dedup analog of [[upsertStateStoreCycle2]]: the persisted
    * per-bucket retained-signature snapshot advanced through the next
    * batch's docs FROM the store (Streams.nearDedupStateSnapshotFrom),
    * persisted as an O(touched-buckets) delta segment (a batch only moves
    * the LSH buckets its own docs hash into — derived from the batch's
    * sketch, O(Δ)), and served as the merge-on-read view (wholesale per
    * bucket: the segment carries each touched bucket's complete new
    * retained set). */
  def nearDedupStateStoreCycle2(s: SparkSession, d: String, prefix: Seq[Streams.Doc],
                                batch: Seq[Streams.Doc]): DataFrame = {
    import s.implicits._
    val base = nearDedupStateStore(s, d, prefix)
    DeltaStore.cycles(s, s"nddd_${prefix.length}_${batch.length}", d, base,
        Seq("bucket"), 1) { (_, _) =>
      val batchDs = s.createDataset(batch)
      val touched = Streams.nearDedupStateSnapshot(batchDs)
        .toDF("bucket", "doc_id", "sig").select(col("bucket")).distinct()
      val init = base.join(broadcast(touched), Seq("bucket"), "left_semi")
        .select(col("bucket"), col("doc_id"), col("sig"))
        .as[(String, Long, Array[Long])]
      (Streams.nearDedupStateSnapshotFrom(init, batchDs)
        .toDF("bucket", "doc_id", "sig"), None)
    }
  }

  // ---- ann: IVF inverted-file store ----------------------------------------

  /** Coarse cells of every IVF store; also its bucket count, so a
    * probed-cell restriction maps 1:1 onto bucket pruning. Part of the
    * table names of the IVF delta stores. */
  private val IvfCells = 16

  /** Standing IVF inverted file (vec_id, embedding, cell) under the frozen
    * deterministic quantizer, bucketed by cell — the artifact layout every
    * billion-vector IVF deployment persists. */
  def ivfIndexStore(s: SparkSession, d: String): DataFrame =
    ensureBucketed(s, "ivf_idx", d, Seq("cell"), IvfCells) {
      Dedup.ivfIndexFull(Tables.embeddings(s, d), IvfCells)
    }

  /** Read-path IVF search: probes fetch their standing cells from the
    * store; the search scan reads ONLY the probed cells' buckets (literal
    * IN on the bucket column → SelectedBucketsCount in the scan) — the
    * per-call full-corpus assignment pass of the inline ann_ivf is gone.
    * Same oracle as ann_ivf. */
  def annIvfStore(s: SparkSession, d: String): DataFrame =
    Dedup.ivfSearchFromIndex(ivfIndexStore(s, d))

  /** Read-path IVF delete: keyed drop of the departing ids from the
    * persisted inverted file (broadcast anti-join — frozen quantizer, no
    * re-assignment) + cell-local search with the surviving probes. Same
    * oracle as ivf_delete. */
  def ivfDeleteStore(s: SparkSession, d: String): DataFrame = {
    val delIds = Tables.embeddings(s, d).filter(isDeltaVec).select(col("vec_id"))
    Dedup.ivfDeleteFrom(ivfIndexStore(s, d), delIds)
  }

  // ---- ann: IVF WRITE-BACK cycles (append-delta segments) ------------------

  /** An `n`-cycle IVF delta store `name` over residues mod `mod`: the base
    * segment is the cell-bucketed inverted file of the vectors outside
    * every arrival class; each cycle appends the arrivals assigned under
    * the frozen quantizer + the departure tombstones. Returns (base,
    * merged view). */
  private def ivfCycles(s: SparkSession, d: String, name: String, mod: Long,
                        n: Int): (DataFrame, DataFrame) = {
    val base = ensureBucketed(s, s"${name}_base$IvfCells", d, Seq("cell"), IvfCells) {
      val emb = Tables.embeddings(s, d)
      Dedup.ivfAssign(emb.filter(preArrival(mod, n)), Dedup.frozenCents(emb, IvfCells))
    }
    val emb = Tables.embeddings(s, d)
    lazy val cents = Dedup.frozenCents(emb, IvfCells)
    (base, vectorCycles(s, d, s"$name$IvfCells", base, emb, mod, n)(Dedup.ivfAssign(_, cents)))
  }

  /** The composed TWO-CYCLE maintained IVF search over the DELTA store:
    * arrivals %20 ∈ {0, 10} upserted, departures %20 ∈ {5, 15}
    * tombstoned, each cycle an O(Δ) segment, and the search serves from
    * the merge-on-read view. Oracle UNCHANGED (ivfCycle2Sql): cell-local
    * search over the post-both-batches corpus under the same frozen
    * quantizer — the hash gate proves the segment fold lossless. */
  def ivfCycle2Store(s: SparkSession, d: String): DataFrame =
    Dedup.ivfSearchFromIndex(ivfCycles(s, d, "ivfd", 20L, 2)._2)

  /** The FOUR-CYCLE delta store — the segment list past cycle 2, the
    * regime the compaction cadence exists for: cycles i = 1..4 append
    * arrival batch vec_id %40 == 10(i−1) and departure tombstones
    * 10(i−1)+5, and the search folds FOUR segments merge-on-read. Oracle =
    * frozen-model cell-local search over the %40 survivors (ivfCycle4Sql)
    * — hash equality proves the longer fold stays lossless. */
  def ivfCycle4Store(s: SparkSession, d: String): DataFrame =
    Dedup.ivfSearchFromIndex(ivfCycles(s, d, "ivfq", 40L, 4)._2)

  /** The four-cycle IVF delta store's SEGMENT MANIFEST — the catalog
    * metadata a compaction scheduler bins (compaction_plan's input
    * shape). Counts read the PERSISTED tables; the oracle counts the
    * corresponding %40 batch classes straight from the corpus — hash
    * equality proves the landed segments carry exactly the batch
    * algebra (a missing tombstone or double-written upsert breaks it). */
  def ivfSegmentManifest(s: SparkSession, d: String): DataFrame =
    DeltaStore.manifest(s, s"ivfq$IvfCells", d, ivfCycles(s, d, "ivfq", 40L, 4)._1,
      cycles = 4)

  /** COMPACTION rung of the IVF delta store — the scheduled OPTIMIZE job:
    * fold base + both delta segments into one fresh cell-bucketed base
    * and serve the same search from it. Same oracle as ann_ivf_cycle2
    * (the fold is value-preserving by construction; the hash gate proves
    * it), so compaction can run on any cadence without a correctness
    * risk. */
  def ivfCompactStore(s: SparkSession, d: String): DataFrame = {
    val view = ivfCycles(s, d, "ivfd", 20L, 2)._2
    Dedup.ivfSearchFromIndex(
      DeltaStore.compact(s, s"ivfd$IvfCells", d, 2, Seq("cell"), IvfCells, view))
  }

  // ---- ann: IVF-PQ store ----------------------------------------------------

  /** Per-JVM memo of the loaded model arrays — the model is an immutable
    * pure function of the snapshot, so repeated serving calls skip the
    * two (tiny but job-scheduling-priced) table collects; a real
    * deployment holds the loaded model in the serving process exactly
    * like this. */
  private val ipqModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, ProductQuant.PqModel]()

  /** Drop every per-JVM memo (currently: the loaded PQ model). Called by
    * the bench's between-query sweep so nothing survives a rep boundary —
    * otherwise rep 1 pays the two model-load collects and later reps
    * report the memoized number. Serving-process semantics are unchanged —
    * callers outside the bench never clear it. */
  def clearSessionMemos(): Unit = ipqModelCache.clear()

  /** The PERSISTED frozen IVF-PQ model (m = 32 sub-quantizers, 128
    * training codes) — coarse centroids + residual codebooks as two tiny
    * catalog tables written ONCE per corpus snapshot next to the codes
    * store (the FAISS index header: the model travels with the codes).
    * Every PQ store read path loads these bounded tables instead of
    * re-deriving the model from the corpus relation per call. Rebuilding
    * either table drops the memo. */
  def ivfPqModelStore(s: SparkSession, d: String): ProductQuant.PqModel = synchronized {
    val key = tableName(s"ipq_cents$IvfCells", d)
    lazy val tables = {
      ipqModelCache.remove(key)
      ProductQuant.modelToTables(s,
        ProductQuant.ivfPqModel(Tables.embeddings(s, d), IvfCells, m = 32, nCodes = 128))
    }
    val cents = ensureTable(s, s"ipq_cents$IvfCells", d)(tables._1)
    val cbs = ensureTable(s, s"ipq_cbs$IvfCells", d)(tables._2)
    ipqModelCache.computeIfAbsent(key, _ => ProductQuant.modelFromTables(cents, cbs))
  }

  /** Standing IVF-PQ codes (vec_id, cell, codes) bucketed by cell — the
    * FAISS IndexIVFPQ persisted layout: m small codes per vector instead
    * of Dim floats. Encoded once per corpus snapshot, under the PERSISTED
    * frozen model (the one model derivation at ingest). */
  def ivfPqCodesStore(s: SparkSession, d: String): DataFrame =
    ensureBucketed(s, "ivfpq_codes", d, Seq("cell"), IvfCells) {
      val emb = Tables.embeddings(s, d)
      ProductQuant.ivfPqEncodeSlice(emb, emb, IvfCells, model = Some(ivfPqModelStore(s, d)))
    }

  /** Read-path IVF-PQ search: ADC scoring over the persisted codes of the
    * probed cells ONLY (bucket prune) — no raw corpus vector is read, the
    * per-call corpus encode pass is gone, and the frozen model loads from
    * its persisted tables. Same oracle as ann_ivf_pq. */
  def annIvfPqStore(s: SparkSession, d: String): DataFrame =
    ProductQuant.ivfPqSearchFromCodes(Tables.embeddings(s, d),
      ivfPqCodesStore(s, d), model = Some(ivfPqModelStore(s, d)))

  /** The BASE-slice persisted IVF-PQ codes (vec_id%10 != 0 encoded under
    * the frozen model) — the standing artifact of the upsert rung. */
  def ivfPqCodesBase(s: SparkSession, d: String): DataFrame =
    ensureBucketed(s, s"ivfpq_codes_base$IvfCells", d, Seq("cell"), IvfCells) {
      val emb = Tables.embeddings(s, d)
      ProductQuant.ivfPqEncodeSlice(emb.filter(!isDeltaVec), emb, IvfCells,
        model = Some(ivfPqModelStore(s, d)))
    }

  /** Read-path IVF-PQ upsert: the arrival batch encoded in one narrow
    * delta pass under the PERSISTED frozen model (the only encode work in
    * the call — no model re-derivation) and appended to the PERSISTED
    * base codes; ADC search served from the union. Same oracle as
    * ivf_pq_upsert / ann_ivf_pq. */
  def ivfPqUpsertStore(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val model = ivfPqModelStore(s, d)
    val arr = ProductQuant.ivfPqEncodeSlice(emb.filter(isDeltaVec), emb,
      model = Some(model))
    ProductQuant.ivfPqSearchFromCodes(emb, ivfPqCodesBase(s, d).unionByName(arr),
      model = Some(model))
  }

  /** Read-path IVF-PQ delete: keyed drop of the departing ids from the
    * PERSISTED codes table (broadcast anti-join), ADC search with the
    * surviving probes under the PERSISTED frozen model — no per-call
    * corpus encode pass or model derivation; only the delta ids move.
    * Same oracle as ivf_pq_delete. */
  def ivfPqDeleteStore(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val delIds = emb.filter(isDeltaVec).select(col("vec_id"))
    ProductQuant.ivfPqDeleteFrom(emb, ivfPqCodesStore(s, d), delIds,
      model = Some(ivfPqModelStore(s, d)))
  }

  /** The composed TWO-CYCLE maintained IVF-PQ search over the DELTA
    * store: the base segment is the codes of vec_id %20 ∉ {0, 10} under
    * the PERSISTED frozen model; each cycle persists (encoded arrivals,
    * departure ids); ADC search (surviving probes) serves from the
    * merge-on-read view. Oracle UNCHANGED: the frozen-model ADC replay
    * over the post-both-batches corpus (ivfPqSearchSql with the %20
    * survivor restriction). */
  def ivfPqCycle2Store(s: SparkSession, d: String): DataFrame = {
    val base = ensureBucketed(s, s"ipqd_base$IvfCells", d, Seq("cell"), IvfCells) {
      val emb = Tables.embeddings(s, d)
      ProductQuant.ivfPqEncodeSlice(emb.filter(preArrival(20L, 2)), emb, IvfCells,
        model = Some(ivfPqModelStore(s, d)))
    }
    val cycleEmb = Tables.embeddings(s, d)
    lazy val model = Some(ivfPqModelStore(s, d))
    val merged = vectorCycles(s, d, s"ipqd$IvfCells", base, cycleEmb, 20L, 2)(
      ProductQuant.ivfPqEncodeSlice(_, cycleEmb, IvfCells, model = model))
    val emb = Tables.embeddings(s, d)
    // the view already excludes both departure batches; the empty delete
    // list keeps the shared surviving-probe derivation of ivfPqDeleteFrom
    ProductQuant.ivfPqDeleteFrom(emb, merged, emb.filter(lit(false)).select(col("vec_id")),
      IvfCells, model = Some(ivfPqModelStore(s, d)))
  }
}
