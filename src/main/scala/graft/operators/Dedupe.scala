package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import graft.SessionMemo
import graft.functions.TextFunctions._
import graft.functions.expressions.GraftFunctions

/** Deduplication operators for document corpora, designed for the
  * 100 TB path: every variant is a pure DataFrame plan (scan → narrow
  * per-row hashing → one shuffle on the dedup key). No driver-side state
  * outlives a session: the near-dup miners' census readings and the
  * staging tables they persist both live in the calling session's
  * [[graft.SessionMemo]], and [[releaseStaged]] unpersists a session's
  * tables.
  *
  * Reference semantics: the `dedupe` processor drops messages whose key
  * was already seen (docs/modules/components/pages/processors/dedupe.adoc:26,
  * config/test/deduplicate.yaml:1-37); here generalized to corpus-level
  * exact and near-duplicate detection.
  */
object Dedupe {

  // The staging tables a session's miners persisted, oldest first: each
  // census's shingle index, the exact-dup collapse's membership and
  // rep-pair tables, and resolved cluster labels. The returned pair
  // frames are lazy, so a miner can't unpersist its own caches;
  // unpersisting an old frame is always safe (a re-evaluated plan just
  // recomputes it).
  private object StagedKey
  private def staged(spark: SparkSession): mutable.Queue[DataFrame] =
    SessionMemo.getOrElseUpdate(spark, StagedKey)(mutable.Queue.empty[DataFrame])

  private def registerStagedPersist(df: DataFrame): Unit = {
    val q = staged(df.sparkSession)
    q.synchronized {
      q.enqueue(df)
      // generous bound: each entry is a shingle index, a narrow
      // (rep, id) or pair table (MBs, not GBs); evicting one that backs
      // a NOT-YET-CONSUMED staged result would silently re-plan its
      // expansion against estimated stats (the shuffle-join regression
      // the persistence exists to prevent), so the cap only guards a
      // pipeline that builds dozens of staged dedups without
      // materializing any
      while (q.size > 64) { q.dequeue().unpersist(); () }
    }
  }

  /** Release every staging table the dedup miners persisted in `spark`
    * so far (ADVICE r14: entries were only released by FIFO pressure,
    * so up to 64 consumed frames could linger per session). Call AFTER
    * the consuming action has materialized its result — releasing
    * earlier re-plans the expansion joins against estimated stats, the
    * exact regression the persistence exists to prevent. Unpersisting a
    * consumed frame is always safe: a re-evaluated plan just recomputes
    * it.
    */
  def releaseStaged(spark: SparkSession): Unit = {
    val q = staged(spark)
    q.synchronized { while (q.nonEmpty) { q.dequeue().unpersist(); () } }
  }

  /** `releaseStaged(spark)` for the calling thread's active session,
    * else the default one.
    */
  def releaseStaged(): Unit =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(s => releaseStaged(s))

  /** Scale-adaptive kernel parallelism (r19, guide §2.5 "input skew:
    * one huge unsplittable file"): a single-row-group parquet input
    * yields ONE scan task regardless of maxPartitionBytes (the row
    * group is the split unit), serializing every per-row hashing
    * kernel above it. When the input's scan parallelism is below the
    * session's, redistribute by the unique doc id BEFORE the expensive
    * per-row work; when the scan already has >= defaultParallelism
    * partitions (any real-scale corpus), this adds NOTHING — no
    * exchange, identical plan. Safe only where downstream output is
    * partition-invariant (joins/aggregations), which holds for every
    * miner here. Hash distribution by the unique id is deterministic
    * (no round-robin sort, no rand()).
    */
  private def spread(df: DataFrame, idCol: String): DataFrame =
    // delegates to the shared util (r20), which gates the partition
    // probe on scan-side lineage itself — a caller-supplied
    // post-exchange frame skips spread instead of eagerly executing
    // its upstream stages just to read a partition count (ADVICE r19)
    Spread.spread(df, col(idCol))

  /** Exact dedup on a canonical text fingerprint: keeps the row with the
    * lowest `idCol` per fingerprint. One shuffle on the md5 key; the key
    * is high-cardinality and uniform, so no skew at scale.
    */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    // no [[spread]] here: one md5 per doc is too cheap to pay an extra
    // exchange of the full text for (measured in-suite +0.44 s at
    // sf0.1; the groupBy's partial agg already bounds the single-task
    // work to one hash pass)
    docs.withColumn("fp", fingerprint(col(textCol)))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Per-doc distinct shingle sets as 64-bit HASHES (one codegen'd
    * kernel — see HashOps.shingleHashes for why the HOF formulation is
    * not survivable under predicate pushdown). Downstream joins and
    * intersections move 8-byte longs, never n-gram text.
    */
  private def shingleHashes(text: Column, shingleN: Int): Column =
    call_function("graft_shingle_hashes", tokens(text), lit(shingleN))

  /** (id, sh): each doc's [[shingleHashes]] set, unspread and uncached —
    * the reference plans' input.
    */
  private def shingleSets(docs: DataFrame, textCol: String,
                          idCol: String, shingleN: Int): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    docs.select(col(idCol).as("id"), shingleHashes(col(textCol), shingleN).as("sh"))
  }

  /** The miners' per-doc index over their [[spread]] input: (id,
    * h = xxhash64 of the raw text, sh = the [[shingleHashes]] set). The
    * census and every pair plan read it, so once a census has persisted
    * it the corpus is shingled exactly once.
    */
  private[graft] def shingleIndex(docs: DataFrame, textCol: String,
                                  idCol: String, shingleN: Int): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    spread(docs.select(col(idCol).as("id"), col(textCol).as("__txt")), "id")
      .select(col("id"), xxhash64(col("__txt")).as("h"),
        shingleHashes(col("__txt"), shingleN).as("sh"))
  }

  /** The inverted index of a set frame: one (id, sz, s) row per shingle
    * of each non-empty set.
    */
  private[graft] def invertedIndex(sets: DataFrame): DataFrame =
    // `sz` must be projected BEFORE the explode: computed alongside it,
    // Catalyst moves size(sh) after the Generate and then carries (and
    // unsafe-copies) the whole array on every exploded row.
    sets.withColumn("sz", size(col("sh")))
      .filter(col("sz") > 0)
      .select(col("id"), col("sz"), explode(col("sh")).as("s"))

  /** Exact-Jaccard verification of candidate pairs against the full
    * shingle sets. Threshold is applied to the UNROUNDED ratio (matching
    * the documented "Jaccard >= threshold" semantics and the DuckDB
    * oracle); rounding happens only in the output projection.
    */
  private def verifyJaccard(cand: DataFrame, sets: DataFrame,
                            threshold: Double): DataFrame =
    cand
      .join(sets.select(col("id"), col("sh").as("sh_a")), col("id_a") === col("id"))
      .drop("id")
      .join(sets.select(col("id"), col("sh").as("sh_b")), col("id_b") === col("id"))
      .drop("id")
      .withColumn("jaccard_raw", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard_raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard_raw"), 4).as("jaccard"))

  /** One census pass's readings over a corpus's shingle index, and the
    * cost model that picks both near-dup miners' plan from them
    * (*Continuously Adaptive Similarity Search*: choose the method from
    * observed statistics). Every plan it can pick emits byte-identical
    * rows, so a misjudged reading can only ever cost speed.
    *
    *   - `docs` rows, of which `texts` distinct (xxhash64 of the raw
    *     text, no normalization: the byte-identical replication that
    *     dominates real duplicate mass is caught at a fraction of the
    *     md5+regexp cost, and the whitespace variants it misses are rare);
    *   - `index` = Σ_s df(s), the inverted index's size, and `fanout` =
    *     Σ_s C(df(s), 2), the count plan's exact join volume.
    */
  private[graft] final case class Census(docs: Long, texts: Long,
                                         index: Double, fanout: Double) {

    /** Collapse exact duplicates before mining ([[stagedByExactDup]])
      * once a tenth of the rows repeat another's text. On a
      * near-distinct corpus the collapse is pure overhead — three extra
      * joins, measured 2.4 s (direct) vs 17 s (staged, driver harness,
      * single-row-group sf0.1) on 5 000 docs with 8 dups.
      */
    def staged: Boolean = texts < 0.9 * docs

    /** Count-plan join rows per index row for the sets the pair plan
      * will mine: the corpus's own, or under [[staged]] its
      * representatives'. The census reads the whole corpus, so the
      * representatives' ratio is derived for uniform replication
      * c = docs / texts: each df scales by c, so Σdf = c·Σdf_rep and
      * ΣC(df,2) = c²·ΣC_rep + c(c−1)/2·Σdf_rep.
      */
    def fanoutRatio: Double = {
      val ratio = fanout / math.max(1.0, index)
      if (!staged) ratio
      else {
        val c = docs.toDouble / texts
        (ratio - (c - 1.0) / 2.0) / c
      }
    }

    /** Mine with [[prefixFilteredPairs]] rather than [[countPairs]].
      * Crossover measured r20 (JaccardLab, warm isolated, 32 cores;
      * ratio = fanout/index):
      *   - sf0.1 clean, 5 000 docs: ratio 4.9 → count 0.47 s, prefix 1.34;
      *   - 8 boiler tokens ubiquitous, 5 000 docs: ratio 255 →
      *     count 1.50, prefix 1.98 (the break-even neighborhood);
      *   - 8 boiler tokens, 20 000 docs (df 20 000, fan-out 1.26 B, true
      *     output 34 k pairs): ratio 1037 → count 24.7 s, prefix 8.2 s.
      * Count cost is LINEAR in fan-out (→ quadratic in corpus size under
      * ubiquitous boilerplate); prefix cost tracks index + output size.
      * Cap 256 ≈ the measured per-row break-even (~20 ns/fan-out row vs
      * ~5 µs/index row); every clean/near-distinct corpus measured
      * (sf0.001–sf100 reps) sits at ratio < 30. Known accepted loss: a
      * corpus whose TRUE pair output is itself quadratic (30 ubiquitous
      * boiler tokens pushed 1 500 short docs over the 0.35 threshold →
      * 1.04 M true pairs) reads ratio 896 → prefix 6.4 s vs count 3.5 s —
      * the per-output-pair verify is ~2× the count agg; bounded either
      * way, and that regime is the LSH miner's territory anyway.
      */
    def prefix: Boolean = fanoutRatio > FanoutCap
  }

  private val FanoutCap = 256.0

  /** The census action over a [[shingleIndex]]: ONE aggregation groups
    * (doc, k) rows — one per doc keyed by its text hash and, with
    * `moments`, one per index entry keyed by its shingle — so the doc
    * groups count the rows and the distinct texts, and the shingle
    * groups are the df profile. Map-side partial aggregation means only
    * per-partition group counts cross the wire.
    */
  private[graft] def census(index: DataFrame, moments: Boolean = true): Census =
    readings(
      if (!moments) index.select(lit(true).as("doc"), col("h").as("k"))
      // one scan of the index: position 0 is the doc's own row
      else index.select(posexplode(concat(array(col("h")), col("sh"))))
        .select((col("pos") === 0).as("doc"), col("col").as("k")))

  private def readings(keys: DataFrame): Census = {
    import keys.sparkSession.implicits._
    val groups = keys.groupBy(col("doc"), col("k")).agg(count(lit(1)).as("c"))
      .select(col("doc"), col("c")).as[(Boolean, Long)]
    // the tasks that finish the groups fold them too: a global
    // aggregate would cost one more exchange and one more job
    groups.rdd.mapPartitions { it =>
      var (docs, texts, index, fanout) = (0L, 0L, 0.0, 0.0)
      it.foreach { case (doc, c) =>
        if (doc) { docs += c; texts += 1 }
        else { val df = c.toDouble; index += df; fanout += df * (df - 1) / 2 }
      }
      Iterator.single(Census(docs, texts, index, fanout))
    }.fold(Census(0L, 0L, 0.0, 0.0)) { (a, b) =>
      Census(a.docs + b.docs, a.texts + b.texts, a.index + b.index, a.fanout + b.fanout)
    }
  }

  /** The census's fan-out test over an inverted index built by the
    * caller (the unstaged reference plan, JaccardLab).
    */
  private[graft] def boilerplateHeavy(ex: DataFrame): Boolean =
    readings(ex.select(lit(false).as("doc"), col("s").as("k"))).prefix

  /** The miners' front end: `docs`' [[shingleIndex]] and its [[census]]
    * (with the df `moments` for the Jaccard miner; the LSH miner only
    * needs the doc half). The readings memoize per session (ANALYZE-once
    * statistics reuse, *Incremental Based Framework for Efficient Top-K
    * Similarity Search in Interactive Data Analysis Sessions*), keyed on
    * the canonicalized analyzed plan — full plan equality, so two
    * corpora never share readings — plus the text column and shingle
    * size: they are a table property, and staleness can only pick the
    * slower of byte-identical plans. On a miss the index is persisted
    * (a staging table) before the census runs, so the census job
    * shingles the corpus and the pair plan reads that cache; a hit
    * persists nothing and the pair plan shingles inline, once.
    */
  private def censused(docs: DataFrame, textCol: String, idCol: String,
                       shingleN: Int, moments: Boolean): (DataFrame, Census) = {
    val index = shingleIndex(docs, textCol, idCol, shingleN)
    val key = ("census", moments, docs.queryExecution.analyzed.canonicalized,
      textCol, shingleN)
    val readings = SessionMemo.getOrElseUpdate(docs.sparkSession, key) {
      index.persist(StorageLevel.MEMORY_AND_DISK)
      registerStagedPersist(index)
      census(index, moments)
    }
    (index, readings)
  }

  /** All near-duplicate pairs (idA < idB) with word-`shingleN`-gram
    * Jaccard >= threshold — EXACT result via an inverted-index self-join
    * on hashed shingles whose co-occurrence COUNT is the intersection
    * size, so Jaccard falls out of one aggregation with no per-pair
    * array verify and no array columns in any shuffle.
    *
    * One [[census]] pass per corpus reads the row count, the distinct
    * texts and the shingle-df moments, and its cost model picks both
    * choices: direct or exact-dup-collapse staging ([[Census.staged]]),
    * and the count or the prefix-filter pair plan ([[Census.prefix]]).
    * Both plans read the census's cached [[shingleIndex]]; nothing
    * tokenizes the corpus a second time. At 100 TB the census is one
    * narrow scan whose map-side aggregation ships only group counts.
    *
    * Scale notes: join fan-out is Σ_s C(df(s), 2) over shingle document
    * frequencies — benign while shingles are near-unique (word trigrams
    * of real text are ~90% df=1), quadratic on any ubiquitous shingle,
    * which is what the prefix plan is for. The length-ratio predicate
    * prunes cross-size pairs inside the join. At corpus scale the right
    * default is [[minhashLshPairs]] — banded candidates track duplicate
    * density, not df² — keeping this as the exact oracle for sampled
    * validation.
    *
    * PRECONDITION: `idCol` must be unique per row (ADVICE r19). The
    * co-occurrence-count plan keys pairs by (id_a, id_b); duplicate ids
    * merge counts across distinct rows and can emit jaccard_raw > 1 or
    * wrong ratios, where the old verify-join plan emitted one row per
    * row-pair combination. Every catalog caller passes a primary key.
    */
  def ngramJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
                        shingleN: Int, threshold: Double): DataFrame = {
    val (index, c) = censused(docs, textCol, idCol, shingleN, moments = true)
    val mine = (sets: DataFrame) => jaccardPairs(sets, c.prefix, threshold)
    if (c.staged) stagedByExactDup(index, mine) else mine(index)
  }

  /** The exact pair plan over a set frame (id, sh): see
    * [[ngramJaccardPairsDirect]] for the two shapes.
    */
  private def jaccardPairs(sets: DataFrame, prefix: Boolean,
                           threshold: Double): DataFrame = {
    val ex = invertedIndex(sets)
    if (prefix) prefixFilteredPairs(sets, ex, threshold)
    else countPairs(ex, threshold)
  }

  /** Exact-duplicate COLLAPSE before the near-dup join — the standard
    * production staging (web corpora are 30-50% byte-identical): the
    * quadratic-ish pair join runs only on DISTINCT shingle sets (one
    * rep = min id per set), then pairs expand back through group
    * membership. Docs with equal sets have identical Jaccard to every
    * other doc and J = 1 among themselves, so within-group pairs need
    * no computation (only a nonempty-set check: two <shingleN-token
    * docs have empty sets and are excluded, same as the direct join's
    * |A|+|B| > 0 guard). A pathological key (one text duplicated
    * ~everywhere) concentrates its group's expansion in one task;
    * expansion output = true duplicate volume, which any downstream
    * consumer pays anyway.
    *
    * The collapse key `__fp` is the sorted set itself read from the
    * index — exact, case-sensitive like the shingles, and free of a
    * second tokenization; every emitted pair is byte-identical to the
    * direct plan's. Generalized over the rep-level pair miner: the
    * exact inverted-index path and the minhash-LSH path (equal sets
    * have equal minhash signatures) both stage through it.
    */
  private def stagedByExactDup(index: DataFrame,
                               minePairs: DataFrame => DataFrame): DataFrame = {
    // membership is consumed three times (two expansion joins + the
    // within-group self-join); persisted it is a (rep, id) table plus
    // the reps' sets, while recomputing it re-sorts and re-shuffles
    // every set per use (exchange reuse does not span all the union
    // branches)
    val members = index.select(col("id"), col("sh"), array_sort(col("sh")).as("__fp"))
      .select(min(col("id")).over(Window.partitionBy(col("__fp"))).as("rep"),
        col("id"), col("sh"))
      .select(col("rep"), col("id"),
        when(col("id") === col("rep"), col("sh")).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    registerStagedPersist(members)
    val reps = members.filter(col("id") === col("rep")).select(col("id"), col("sh"))
    // rep-level pairs are duplicate-pair-sized (tiny next to the
    // expanded output); materializing them hands the planner their TRUE
    // size so the expansion joins go broadcast — estimated stats of an
    // array-bearing verify subtree (the minhash miner) otherwise deny
    // it and force two shuffle joins of the full expansion volume
    val repPairs = minePairs(reps).persist(StorageLevel.MEMORY_AND_DISK)
    registerStagedPersist(repPairs)
    repPairs.count()
    val byRep = members.select(col("rep"), col("id"))
    // cross-group: every member combo of the two rep groups, re-ordered
    val cross = repPairs
      .join(byRep.select(col("rep").as("id_a"), col("id").as("ma")), "id_a")
      .join(byRep.select(col("rep").as("id_b"), col("id").as("mb")), "id_b")
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"), col("jaccard"))
    // within-group: all id pairs of a nonempty-set group, J = 1
    val nonEmpty = reps.filter(size(col("sh")) > 0).select(col("id").as("rep"))
    val within = byRep.join(nonEmpty, "rep")
      .as("a").join(byRep.as("b"),
        col("a.rep") === col("b.rep") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        lit(1.0).as("jaccard"))
    cross.unionByName(within)
  }

  /** The direct (no exact-dup collapse) pair join over an unspread,
    * uncached shingle pass, with its own fan-out test — the reference
    * the staged and cached plans of [[ngramJaccardPairs]] must match.
    *
    * Plan (r19 optimization, guide §2.3 "aggregate before you shuffle"):
    * a pure inverted-index co-occurrence COUNT. Because shingle sets are
    * DISTINCT 64-bit hashes (HashOps.shingleHashes de-dups), the number
    * of index rows two docs co-occur on IS |A ∩ B|, so Jaccard falls out
    * of one hash aggregation: J = cnt / (|A| + |B| - cnt). Identical
    * arithmetic to the r18 plan's jaccard(sh_a, sh_b) kernel
    * (size(array_intersect) over the same hash arrays, same double
    * casts), but with NO array column past the explode, no per-pair
    * array_intersect hash-set build, no candidate `distinct` exchange
    * and no two verify joins — the r18 shape burned ~14 core-seconds on
    * 0.6 M candidate rows at sf0.1 (allocation-bound; 19.7 s in-suite).
    * Partial map-side aggregation crushes the join fan-out before the
    * one pair-keyed exchange.
    *
    * The r18 PPJoin prefix filter (index only the first
    * |X|-ceil(t|X|)+1 sorted hashes) cut index fan-out to ~(1-t)² of
    * Σ C(df,2) but paid for it with the per-candidate array verify —
    * measured strictly slower at every rung tried (sf0.1: 9.5 s
    * isolated vs 1.8 s for this plan). The length-ratio predicate
    * (J >= t forces t <= |A|/|B| <= 1/t) still prunes cross-size pairs
    * inside the join, before aggregation.
    *
    * r20 (VERDICT r19 #1): the fan-out guard is back IN the plan,
    * behind a measured crossover ([[Census.prefix]]). On a
    * boilerplate-heavy corpus (shared headers / license text in
    * otherwise-distinct docs) the count plan's join volume Σ C(df,2)
    * goes quadratic in corpus size — measured 2.4 s (clean sf0.1) →
    * 12.8 s with 30 ubiquitous shingles, linear in the fan-out and
    * unbounded in N. At/above the crossover, [[prefixFilteredPairs]] —
    * prefix filtering under a GLOBAL (df asc, hash) order, so
    * ubiquitous shingles never enter the candidate index. Both plans
    * are exact and emit byte-identical rows.
    */
  private[operators] def ngramJaccardPairsDirect(
      docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int, threshold: Double): DataFrame = {
    val sets = shingleSets(docs, textCol, idCol, shingleN)
    jaccardPairs(sets, boilerplateHeavy(invertedIndex(sets)), threshold)
  }

  /** The pure co-occurrence-count plan (the r19 shape) — the fast path
    * for corpora whose shingle df profile keeps Σ C(df,2) near-linear.
    */
  private[graft] def countPairs(ex: DataFrame,
                                    threshold: Double): DataFrame = {
    val inter = count(lit(1)).cast("double")
    val pairs = ex.as("a").join(ex.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id") &&
          col("a.sz") >= col("b.sz") * threshold - 1e-9 &&
          col("b.sz") >= col("a.sz") * threshold - 1e-9)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg((inter / ((col("sz_a") + col("sz_b")).cast("double") - inter))
        .as("jaccard_raw"))
    // Threshold applies to the UNROUNDED ratio (documented semantics
    // and the oracle's), rounding only in the output projection. Pairs
    // with an empty intersection never reach the join (no shared index
    // row), and are below any threshold > 0 anyway.
    pairs.filter(col("jaccard_raw") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("jaccard_raw"), 4).as("jaccard"))
  }

  /** PPJoin-style prefix-filtered pairs under a GLOBAL (df asc, hash
    * asc) total order — the exact high-df escape hatch. Under ANY
    * global total order, two sets with J >= t share an element within
    * their first |X| - ceil(t|X|) + 1 elements (the r18-proven prefix
    * property); ordering by ascending document frequency puts
    * ubiquitous (boilerplate) shingles LAST, so prefixes hold the
    * RAREST shingles and the candidate join's fan-out tracks rare-
    * shingle collisions, not Σ C(df,2). Candidates are then verified
    * exactly against the full sets ([[verifyJaccard]] — same double
    * arithmetic as the count plan, byte-identical output). Costs two
    * extra shuffles (df join, per-doc window) + the candidate distinct
    * + two verify joins — flat in boilerplate mass, which is the point.
    */
  private[graft] def prefixFilteredPairs(sets: DataFrame, ex: DataFrame,
                                  threshold: Double): DataFrame = {
    val dfs = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("id")).orderBy(col("df"), col("s"))
    val pre = ex.join(dfs, "s")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <=
        col("sz") - ceil(col("sz") * threshold - 1e-9) + 1)
      .select(col("id"), col("sz"), col("s"))
    val cand = pre.as("a").join(pre.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id") &&
          col("a.sz") >= col("b.sz") * threshold - 1e-9 &&
          col("b.sz") >= col("a.sz") * threshold - 1e-9)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    verifyJaccard(cand, sets, threshold)
  }

  /** MinHash + LSH near-dup pairs: signatures of k = bands*rowsPerBand
    * minhashes; docs sharing any band bucket become candidates, verified
    * with exact shingle Jaccard. Probabilistic recall (standard S-curve),
    * exact precision thanks to the verify step. One shuffle on the band
    * key — this is the 100 TB default: candidate volume tracks
    * true-duplicate density, not corpus size squared.
    *
    * PRECONDITION: `idCol` must be unique per row — the banded
    * candidate join and the staged expand both key rows by it (see
    * [[ngramJaccardPairs]]).
    */
  def minhashLshPairs(docs: DataFrame, textCol: String, idCol: String,
                      shingleN: Int, bands: Int, rowsPerBand: Int,
                      threshold: Double): DataFrame = {
    // the census's doc half picks the same adaptive staging as the
    // exact path: equal shingle sets have equal minhash signatures, so
    // collapse + expand is byte-identical to direct mining while the
    // banded join sees only distinct sets (sf10 measured 130 s direct
    // on 100x replication; the staged plan re-mines 5 000 reps)
    val (index, c) = censused(docs, textCol, idCol, shingleN, moments = false)
    val mine = (sets: DataFrame) => lshPairs(sets, bands, rowsPerBand, threshold)
    if (c.staged) stagedByExactDup(index, mine) else mine(index)
  }

  /** The LSH miner over an unspread, uncached shingle pass — the
    * reference for [[minhashLshPairs]]' cached and staged plans.
    */
  private[operators] def minhashLshPairsDirect(
      docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int, bands: Int, rowsPerBand: Int,
      threshold: Double): DataFrame =
    lshPairs(shingleSets(docs, textCol, idCol, shingleN), bands,
      rowsPerBand, threshold)

  private def lshPairs(sets: DataFrame, bands: Int, rowsPerBand: Int,
                       threshold: Double): DataFrame = {
    val withSig = sets.withColumn("sig",
      call_function("graft_minhash_h", col("sh"), lit(bands * rowsPerBand)))
    val banded = withSig.select(col("id"),
      explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("band"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    verifyJaccard(cand, sets, threshold)
  }

  /** Resolve near-dup PAIRS into duplicate clusters: connected
    * components. Returns (id, rep) for every id appearing in a pair,
    * rep = smallest id in its component — the canonical document the
    * cluster keeps.
    *
    * Scale/latency notes: one protocol, two regimes. ONE fused pass
    * over the edge list counts every partition and keeps up to
    * `driverMaxEdges`+1 rows per partition. If the total fits, those
    * rows resolve on the driver by exact union-find. Otherwise the edge
    * list is cached (MEMORY_AND_DISK) from the same execution — its
    * shuffles are not re-run — and alternating LARGE-STAR / SMALL-STAR
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond") runs over that cache — O(log d) rounds
    * for diameter d, and round 1's distinct collapses dense components
    * (near-dup clusters are cliques) to stars, so later rounds touch
    * node-sized data instead of re-joining the full edge list the way
    * the r14 delta-iteration label propagation did (sf30, 224 M edges:
    * 161 s delta vs star rounds that shrink after the first pass).
    * Contraction checks its fixpoint every round from a count+hash
    * aggregate. Both regimes emit identical (id, min-rep) labels,
    * pinned by spec.
    */
  def resolveClusters(pairs: DataFrame, maxIter: Int = 20,
                      driverMaxEdges: Long = 2000000L): DataFrame = {
    // Near-dup pair lists are duplicate-density-sized, not
    // corpus-sized. When the whole edge list fits on the driver,
    // iterative Spark rounds are pure fixed overhead (each is a fresh
    // plan+codegen cycle — ~3 s even on a 25-edge graph) and union-find
    // is exact and instant; past the cap, contraction costs ~one
    // full-volume round before the edge set collapses, so the
    // crossover is flat (sf3's 2.2 M-edge rung measured FASTER
    // distributed than the r13 driver path did). Memory math at the
    // 2 M default: ~16 B/edge retained in the long arrays + ~64 B/edge
    // transient boxed tuples ≈ 160 MB peak — safe at default driver
    // heaps. IVF makes the same centroids-on-driver call.
    val spark = pairs.sparkSession
    import spark.implicits._
    val cap = math.min(driverMaxEdges, (Int.MaxValue - 8).toLong)

    def unionFind(collected: Array[(Long, Long)]): DataFrame = {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val nxt = parent(c); parent(c) = r; c = nxt
        }
        r
      }
      collected.foreach { case (ra, rb) =>
        val (a, b) = (find(ra), find(rb))
        // union by MIN root so the representative is the smallest id
        if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
        else { parent.getOrElseUpdate(a, a); () }
      }
      val ids = collected.flatMap { case (a, b) => Seq(a, b) }
        .distinct.sorted
      ids.toSeq.map(id => (id, find(id))).toDF("id", "rep")
    }

    // `.rdd` plans the pairs query once: adaptive execution runs its
    // shuffle stages right here, so a second job over `pairRdd` (the
    // cache build below, on overflow) re-runs only the final stage
    val pairRdd = pairs.select(col("id_a"), col("id_b")).as[(Long, Long)].rdd
    val perPart: Array[(Long, Array[(Long, Long)])] =
      pairRdd.mapPartitions { it =>
        val buf = new scala.collection.mutable.ArrayBuffer[(Long, Long)](1024)
        var n = 0L
        var keep = true
        while (it.hasNext) {
          val x = it.next(); n += 1
          if (keep) {
            if (n <= cap + 1) buf += x
            else { buf.clear(); keep = false }
          }
        }
        Iterator.single((n, if (keep) buf.toArray else null))
      }.collect()
    val edgeCount = perPart.map(_._1).sum
    if (edgeCount <= cap && perPart.forall(_._2 != null))
      return unionFind(Array.concat(perPart.map(_._2): _*))
    Console.err.println(s"[dedupe] $edgeCount edges > cap $cap: " +
      "star contraction over the cached edge list")
    // MEMORY_AND_DISK: contraction scans this cache three times
    // (large-star, its re-read, the self-label pass), so hot-partition
    // hits are worth far more than the evicted storage costs the sorts
    // (DISK_ONLY measured 96.0 vs 42.2 s isolated at sf30, r15)
    val raw = pairRdd.toDF("id_a", "id_b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ALTERNATING LARGE-STAR / SMALL-STAR CONTRACTION (the
    // Kiveris et al. "Connected Components in MapReduce and Beyond"
    // shape, also what GraphFrames ships): each round rewires every
    // node's larger neighbors (large-star), then its smaller neighbors
    // plus itself (small-star), to the locally-smallest id. The edge
    // set converges to per-component STARS centered at the component
    // minimum in O(log d) rounds — replacing the r14 delta-iteration
    // label propagation, whose every round re-joined the FULL edge
    // list against the changed labels (on the sf30 rung, 224 M edges
    // diameter-1 cliques still cost two full-volume joins + label
    // maintenance = 161 s; contraction collapses the cliques to stars
    // inside round 1's distinct, so later rounds touch node-sized
    // data). No upfront distinct: min-aggregates are
    // duplicate-insensitive and round 1's own distinct collapses the
    // emitted pairs — deduplicating the raw edge list first would be
    // one extra full-volume shuffle for nothing.
    // Canonicalization (least/greatest) is two long ops computed on the
    // fly over the columnar cache — no second materialization; round
    // 1's first scan builds the cache and the rest hit it.
    val edges0 = raw.select(
      least(col("id_a"), col("id_b")).as("s"),
      greatest(col("id_a"), col("id_b")).as("l"))
    var edges = edges0.filter(col("s") =!= col("l"))
    var prev: (Long, Long) = (-1L, -1L)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val tr = System.nanoTime()
      // localCheckpoint (eager) both materializes the round AND
      // truncates the logical plan — without it each round's plan
      // embeds the whole previous round's tree and Catalyst re-analyzes
      // a geometrically growing plan every iteration (the classic
      // iterative-algorithm trap; GraphFrames checkpoints its
      // connected-components rounds for the same reason). Block
      // storage is MEMORY_AND_DISK and reaped by the ContextCleaner
      // when the round's RDD goes out of scope.
      val (afterLarge0, largeMins) = largeStar(edges)
      // afterLarge is consumed TWICE (small-star's minima aggregate,
      // then the checkpoint below) — without this persist each round
      // re-ran the whole large-star join+distinct a second time
      val afterLarge = afterLarge0
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (afterSmall, smallMins) = smallStar(afterLarge)
      val next = afterSmall.localCheckpoint(true)
      afterLarge.unpersist()
      largeMins.unpersist()
      smallMins.unpersist()
      // fixpoint check: (count, order-independent hash XOR — the edge
      // set is distinct, so XOR is a true set hash and can't overflow
      // under ANSI mode) — one agg job per round over the (rapidly
      // shrinking) edge set
      val row = next.agg(count(lit(1)),
        call_function("bit_xor", xxhash64(col("s"), col("l")))).head()
      val stat = (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
      edges = next
      converged = stat == prev
      prev = stat
      it += 1
      // one line per round on stderr — star contraction rounds are the
      // scale frontier; seeing the edge-set collapse is worth a line
      Console.err.println(f"[dedupe] star-contraction round $it " +
        f"edges=${stat._1} (${(System.nanoTime() - tr) / 1e9}%.1f s)")
    }
    if (!converged)
      throw new IllegalStateException(
        s"resolveClusters: star contraction did not converge in $maxIter " +
          s"rounds (diameter > 2^$maxIter is not a real graph — check for " +
          "adversarial input)")
    // At the fixpoint every edge is (component-min, member). One
    // min-aggregate builds the labels AND absorbs degenerate self-pair
    // nodes (id_a == id_b only — they reach here with no star edge but
    // must still label themselves, matching the driver path).
    val selfOnly = edges0.filter(col("s") === col("l"))
      .select(col("s").as("id"), col("s").as("rep"))
    val labels = edges.select(col("l").as("id"), col("s").as("rep"))
      .union(edges.select(col("s").as("id"), col("s").as("rep")))
      .union(selfOnly)
      .groupBy(col("id")).agg(min(col("rep")).as("rep"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tl = System.nanoTime()
    labels.count() // materialize so the edge cache can be released
    Console.err.println(
      f"[dedupe] labels materialized in ${(System.nanoTime() - tl) / 1e9}%.1f s")
    raw.unpersist()
    registerStagedPersist(labels) // node-sized; released by FIFO pressure
    labels
  }

  /** Large-star round: every node connects each of its LARGER neighbors
    * to the smallest id in its closed neighborhood. Edges stay in
    * canonical (s < l) orientation; the trailing distinct is what
    * collapses a clique to a star in one round.
    */
  /** Node count under which a contraction round's per-node minima
    * table is broadcast to the probe side (~16 B/node — 64 MB at the
    * limit): near-dup graphs have edge counts orders of magnitude above
    * node counts (cliques), so skipping the full-|E| probe shuffle is
    * the single biggest round-1 saving. Above the limit the join falls
    * back to a shuffle join, the 1000-executor-safe shape.
    */
  private val BroadcastNodeLimit = 4000000L

  /** Closed-neighborhood minima per node: ONE exploded scan feeds a
    * partially-aggregated group-by, so the exchange is ~node-sized
    * (map-side combine) and the edge cache is decoded once, not once
    * per orientation. Returned PERSISTED + counted — the caller joins
    * against it (broadcast when small) and must unpersist it after the
    * round materializes.
    */
  private def neighborhoodMins(e: DataFrame, src: String, dst: String,
                               includeSelf: Boolean): (DataFrame, Long) = {
    val dir = e.select(explode(array(
        struct(col(src).as("a"), col(dst).as("b")),
        struct(col(dst).as("a"), col(src).as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val grouped = dir.groupBy(col("a")).agg(min(col("b")).as("mn"))
    val mins = (if (includeSelf)
        grouped.select(col("a"), least(col("a"), col("mn")).as("m"))
      else grouped.select(col("a"), col("mn").as("m")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (mins, mins.count())
  }

  private def maybeBroadcast(mins: DataFrame, n: Long): DataFrame =
    if (n <= BroadcastNodeLimit) broadcast(mins) else mins

  /** Large-star round body; the second element is the round's
    * persisted minima table, to unpersist once the round's output is
    * materialized.
    */
  private def largeStar(e: DataFrame): (DataFrame, DataFrame) = {
    // Emission needs each node's LARGER neighbors, which in canonical
    // orientation is exactly the (s, l) edge itself: emit (m(s), l),
    // already canonical since m(s) <= s < l. With the minima broadcast,
    // the |E|-sized probe never shuffles — round 1's only exchange is
    // the (post-partial-agg) distinct.
    val (mins, n) = neighborhoodMins(e, "s", "l", includeSelf = true)
    val out = e.join(maybeBroadcast(mins, n), col("s") === col("a"))
      .select(col("m").as("s"), col("l")) // m <= s < l: canonical
      .distinct()
    (out, mins)
  }

  /** Small-star round: every node connects its SMALLER neighbors and
    * itself to the smallest of them. Input is already oriented s < l,
    * so grouping by `l` is exactly "group by the larger endpoint".
    * Second element as in [[largeStar]].
    */
  private def smallStar(e: DataFrame): (DataFrame, DataFrame) = {
    val mins = e.groupBy(col("l")).agg(min(col("s")).as("m"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = mins.count()
    val rewired = e.join(maybeBroadcast(mins, n), "l")
      .filter(col("s") =!= col("m"))
      .select(col("m").as("s"), col("s").as("l")) // m < s: canonical
    val own = mins.select(col("m").as("s"), col("l")) // m < l: canonical
    (rewired.union(own).distinct(), mins)
  }

  /** Deduplicated corpus: drop every non-representative member of each
    * near-dup cluster (keep-min-id policy). Singletons pass through.
    */
  def dedupCorpus(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val drop = resolveClusters(pairs).filter(col("id") =!= col("rep"))
      .select(col("id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** Embedding-cosine near-duplicate pairs (idA < idB, cosine >=
    * threshold) — the semantic-dedup path of an LLM data pipeline.
    *
    * `exact = true`: full self-join — the oracle baseline, quadratic,
    * for sampled validation only. Default: multi-table hyperplane-LSH
    * candidates (graft_lsh_keys — near-identical vectors collide with
    * probability ≈ 1) verified by exact cosine, one equi-join shuffle
    * on the bucket key; candidate volume tracks duplicate density, not
    * corpus², so this is the 100 TB shape. Recall is probabilistic in
    * the LSH regime (high for cosine ≳ 0.85 — exactly the semantic-
    * duplicate band); the gate test plants duplicates and measures it.
    */
  def embeddingPairs(emb: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, exact: Boolean = false,
                     planes: Int = 16, tables: Int = 4): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    import graft.functions.VectorFunctions.cosineFast
    // no [[spread]]: the per-row LSH-keys kernel (planes×tables dot
    // products on a 64-dim vector) is light next to an exchange of the
    // vectors (measured in-suite +0.22 s at sf0.1)
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val cand =
      if (exact)
        base.as("a").join(base.as("b"), col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
            col("a.vec").as("va"), col("b.vec").as("vb"))
      else {
        val bucketed = base.select(col("id"),
          explode(call_function("graft_lsh_keys",
            col("vec"), lit(planes), lit(tables))).as("bucket"))
        bucketed.as("a").join(bucketed.as("b"),
            col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
          .distinct()
          .join(base.select(col("id").as("id_a"), col("vec").as("va")), "id_a")
          .join(base.select(col("id").as("id_b"), col("vec").as("vb")), "id_b")
      }
    cand
      .withColumn("sim_raw", cosineFast(col("va"), col("vb")))
      .filter(col("sim_raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim_raw"), 6).as("sim"))
  }

  /** SimHash near-dup pairs (Charikar fingerprints, Manku block-permuted
    * candidate scheme): the 64-bit fingerprint is cut into
    * `maxHamming + 1` blocks, so by pigeonhole any pair within Hamming
    * distance `maxHamming` agrees on at least one FULL block — candidate
    * recall is exactly 1.0 for the advertised radius (the round-1 scheme
    * fixed 4 blocks but accepted radii > 3, silently losing pairs).
    * Candidates are then verified by exact Hamming distance.
    *
    * Scale notes: block width = floor(64/(maxHamming+1)); keep
    * maxHamming small (<= 5) so each block retains >= 10 bits =
    * >= 1024 buckets of near-uniform fingerprint bits; beyond that the
    * per-block bucket count collapses and the within-bucket join goes
    * quadratic — at billions of docs use minhashLshPairs instead.
    */
  def simhashPairs(docs: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32, "maxHamming in [0,32)")
    GraftFunctions.register(docs.sparkSession)
    val nBlocks = maxHamming + 1
    val width = 64 / nBlocks // floor; last block absorbs the remainder
    val fp = spread(docs.select(col(idCol).as("id"),
        col(textCol).as("__txt")), "id")
      .select(col("id"),
        call_function("graft_simhash", tokens(col("__txt"))).as("sh"))
    val blockKey: Int => Column = b => {
      val lo = b * width
      val w = if (b == nBlocks - 1) 64 - lo else width
      val mask = if (w >= 64) -1L else (1L << w) - 1L
      concat_ws(":", lit(b).cast("string"),
        call_function("shiftright", col("sh"), lit(lo))
          .bitwiseAND(lit(mask)).cast("string"))
    }
    val blocks = fp.select(col("id"), col("sh"),
      explode(array((0 until nBlocks).map(blockKey): _*)).as("blk"))
    blocks.as("a").join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming64(col("a.sh"), col("b.sh")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
