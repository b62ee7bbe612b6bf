package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.{hashing, text, vectors}
import graft.plans.GraftFunctions

/** Document deduplication for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard and embedding-cosine near-dup.
  *
  * Scale notes: every variant avoids the O(n^2) cross product — exact dedup
  * is one hash groupBy; MinHash/SimHash/embedding near-dup generate
  * candidates through bucket self-joins whose bucket sizes stay bounded, so
  * the shuffled pair count stays ~linear in corpus size. The hash
  * front-ends (shingle -> minhash, token -> simhash, gram -> md5) run
  * through the native graft_* functions (graft.plans.GraftFunctions) so the
  * per-document hashing loops execute as compiled code inside whole-stage
  * codegen rather than interpreted Catalyst folds.
  *
  * Cache lifecycle: minhashLsh / simhash / ngramJaccard / embeddingNearDup
  * persist small intermediate id+hash tables that their output plan
  * references. Every persisted frame is tracked; callers owning a
  * long-lived session call [[Dedup.releaseCaches]] once the result has
  * been consumed (an action has run) — this unpersists ONLY the frames
  * this object created, unlike spark.catalog.clearCache() which would
  * evict the caller's own caches too.
  */
object Dedup {

  private val cachedFrames =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Persist + register for later release. */
  private def tracked(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    cachedFrames.add(p)
    p
  }

  /** Unpersist every intermediate frame the dedup operators persisted.
    * Safe to call any time after the results have been materialized;
    * non-blocking (Spark drops the blocks asynchronously).
    */
  def releaseCaches(): Unit = {
    var df = cachedFrames.poll()
    while (df != null) {
      // a frame whose owning session already stopped has no blocks left
      // to release — and unpersist on it throws (driver endpoint gone)
      if (!df.sparkSession.sparkContext.isStopped)
        df.unpersist(blocking = false)
      df = cachedFrames.poll()
    }
  }

  /** Exact dedup: cluster by content hash of the raw text.
    * Output: one row per distinct content (hash, n_docs, canonical doc =
    * min id, ordered member list).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col(idCol)).as("canonical_id"),
        array_join(sort_array(collect_list(col(idCol).cast("string"))), ";")
          .as("doc_ids"))

  /** URL-level dedup, the cheapest pass in a crawl pipeline and the one
    * run FIRST (before any content hashing): canonicalize every URL
    * (text.canonicalUrl — case, default ports, fragments, tracking
    * params) and keep one row per canonical URL. Same single-shuffle
    * groupBy shape as [[exact]] — at 100 TB this is one hash exchange on
    * the canonical string, with map-side partial aggregation collapsing
    * the (dominant) unique-URL mass before it ships.
    */
  def urlDedup(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    df.groupBy(text.canonicalUrl(col(urlCol)).as("canonical_url"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col(idCol)).as("canonical_id"),
        array_join(sort_array(collect_list(col(idCol).cast("string"))), ";")
          .as("doc_ids"))

  /** MinHash + LSH banding near-duplicate candidate pairs, verified with the
    * exact Jaccard over the shingle sets.
    *
    * shingle -> minhash (k = bands*rows) -> band buckets -> bucket self-join
    * -> distinct candidate pairs -> Jaccard >= threshold.
    */
  /** Corpus-level source-overlap matrix: estimated shingle-set Jaccard
    * between every pair of SOURCES (crawl snapshots, dumps, vendors) —
    * the triage that answers "which feeds duplicate each other" before
    * any doc-level dedup runs. MinHash signatures are mergeable
    * (min of per-doc mins == min over the union of shingle sets), so a
    * source's signature reduces map-side: the exchange carries
    * k longs per source per task, never shingles or docs; the pairwise
    * compare runs on k x sources rows — metadata scale at any corpus
    * size. Same md5 + 2-universal family as d2, so the estimate is
    * engine-reproducible bit-for-bit.
    */
  def sourceOverlap(df: DataFrame, groupCol: String, textCol: String,
                    shingleWords: Int = 2, k: Int = 16): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val sigs = df.select(col(groupCol).as("source"),
      call_function("graft_word_shingles",
        text.words(col(textCol)), lit(shingleWords)).as("_sh"))
      .where(size(col("_sh")) > 0)
      .select(col("source"),
        posexplode(call_function("graft_minhash_sig", col("_sh"),
          lit(k))).as(Seq("i", "h")))
      .groupBy(col("source"), col("i")).agg(min(col("h")).as("h"))
    val l = sigs.select(col("i"), col("source").as("source1"),
      col("h").as("h1"))
    val r = sigs.select(col("i"), col("source").as("source2"),
      col("h").as("h2"))
    l.join(r, Seq("i"))
      .where(col("source1") < col("source2"))
      .groupBy(col("source1"), col("source2"))
      .agg(sum(when(col("h1") === col("h2"), 1L).otherwise(0L))
        .as("n_match"))
      .withColumn("est_jaccard",
        round(col("n_match").cast("double") / k, 5))
  }

  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 shingleWords: Int = 3, bands: Int = 8, rows: Int = 2,
                 jaccardThreshold: Double = 0.5,
                 maxBucketSize: Int = 1000): DataFrame = {
    val k = bands * rows
    GraftFunctions.register(df.sparkSession)
    // NOT persisted: the branches below (signature path + two verify
    // re-joins) re-run only the narrow scan + native shingle kernel —
    // cheaper at corpus scale than holding a corpus-sized shingle table
    // in executor storage.
    val docs = df.select(
      col(idCol).as("id"),
      array_distinct(call_function("graft_word_shingles",
        text.words(col(textCol)), lit(shingleWords))).as("shingles"))
      .where(size(col("shingles")) > 0)

    val sigs = docs
      .withColumn("sig",
        call_function("graft_minhash_sig", col("shingles"), lit(k)))
    // Buckets carry ONLY (bucket, id): the shingle arrays stay out of the
    // self-join shuffle, which is the dominant cost at corpus scale.
    // Skew guard: a hot bucket (boilerplate text) would go quadratic; cap
    // its size. Capped buckets lose recall, never precision. The cap is
    // ONE window pass (not a count groupBy + re-join): it costs a single
    // bucket shuffle whose output partitioning the self-join below then
    // reuses from the persisted frame.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("bucket")
    val bounded = tracked(sigs.select(col("id"),
      explode(hashing.bandKeys(col("sig"), bands, rows)).as("bucket"))
      .withColumn("_bsz", count(lit(1)).over(w))
      .where(col("_bsz") <= maxBucketSize)
      .select("id", "bucket"))

    val pairs = bounded.select(col("bucket"), col("id").as("id1"))
      .join(bounded.select(col("bucket"), col("id").as("id2")), Seq("bucket"))
      .where(col("id1") < col("id2"))
      .select("id1", "id2").distinct()

    // Re-attach the shingle sets only for the surviving candidate pairs.
    // (Examined this round and deliberately left in the r16 shape: the
    // verify joins already BROADCAST the small pairs side — the corpus
    // never shuffles here — so candidate-pruning docs first (semi-join
    // or collected-id broadcast) only ADDED work: measured 3× shuffle
    // bytes for the lazy-semi-join form — relation de-duplication makes
    // the candidate subtree miss cache substitution and re-execute the
    // pair lineage per verify side — and ~+70% wall for the collected
    // LocalRelation form at the dx bench scale.)
    pairs
      .join(docs.select(col("id").as("id1"), col("shingles").as("sh1")),
        Seq("id1"))
      .join(docs.select(col("id").as("id2"), col("shingles").as("sh2")),
        Seq("id2"))
      .withColumn("jaccard", round(
        size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))), 5))
      .where(col("jaccard") >= jaccardThreshold)
      .select("id1", "id2", "jaccard")
  }

  /** The persistable LSH index behind [[minhashLshIncremental]]: one
    * (id, bucket) row per band per document. Write this as parquet when
    * the corpus is first deduplicated; each later ingest batch then pays
    * signatures for the NEW documents only.
    */
  def minhashBuckets(df: DataFrame, idCol: String, textCol: String,
                     shingleWords: Int = 3, bands: Int = 8,
                     rows: Int = 2): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.select(
      col(idCol).as("id"),
      array_distinct(call_function("graft_word_shingles",
        text.words(col(textCol)), lit(shingleWords))).as("shingles"))
      .where(size(col("shingles")) > 0)
      .select(col("id"), explode(hashing.bandKeys(
        call_function("graft_minhash_sig", col("shingles"),
          lit(bands * rows)), bands, rows)).as("bucket"))
  }

  /** Skew-caps a [[minhashBuckets]] index AT INDEX-BUILD TIME: annotates
    * each (id, bucket) row with its bucket's corpus-side member count and
    * drops rows of over-cap buckets. Persist the result alongside the
    * index — [[graft.streaming.StreamDedup.ingestDedup]] then consumes it
    * with NO aggregation over the index in the per-micro-batch query (at
    * 100 TB the index is billions of rows; a per-batch groupBy over it
    * would be the scale-killer this precompute removes). One window pass,
    * same single bucket shuffle as the batch operators' inline cap.
    *
    * Index maintenance: after `idx.union(minhashBuckets(newDocs))` the
    * stored sizes under-count the newly ingested members; that drift is
    * recall-only (a bucket is never over-reported) and is squared away by
    * re-running capIndex at the next index compaction.
    */
  def capIndex(corpusBuckets: DataFrame,
               maxBucketSize: Int = 1000): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("bucket")
    corpusBuckets
      .withColumn("bucket_size", count(lit(1)).over(w))
      .where(col("bucket_size") <= maxBucketSize)
  }

  /** Incremental near-dup detection: the pairs a NEW ingest batch forms
    * with itself and with the existing corpus — without re-signing the
    * corpus. This is the production mode at 100 TB: the corpus's
    * (id, bucket) index is precomputed ([[minhashBuckets]], persisted),
    * so a batch costs signatures for the batch, one bucket semi-join to
    * find buckets a new doc touches (old-only buckets — the overwhelming
    * majority — never enter the pair shuffle), and shingle verification
    * only for documents that appear in a surviving candidate pair (the
    * corpus text table is semi-join pruned to those ids before the
    * shingle kernel runs). Equals `minhashLsh(old ++ new)` filtered to
    * pairs touching a new id, parameters equal — the d12 gate asserts
    * exactly that against the full-corpus oracle. The caller maintains
    * the index with `corpusBuckets.union(minhashBuckets(newDocs))`.
    *
    * `maxBucketSize` caps at COMBINED (old + new members) bucket size,
    * matching what the full run would see.
    */
  def minhashLshIncremental(newDocs: DataFrame, corpus: DataFrame,
                            corpusBuckets: DataFrame,
                            idCol: String, textCol: String,
                            shingleWords: Int = 3, bands: Int = 8,
                            rows: Int = 2,
                            jaccardThreshold: Double = 0.5,
                            maxBucketSize: Int = 1000): DataFrame = {
    val newB = minhashBuckets(newDocs, idCol, textCol,
      shingleWords, bands, rows)
    val allB = corpusBuckets.select(col("id"), col("bucket"),
      lit(false).as("is_new"))
      .unionByName(newB.select(col("id"), col("bucket"),
        lit(true).as("is_new")))
    // one window pass over bucket replaces the semi-join + groupBy + two
    // re-joins: keep buckets some new doc landed in (old-only buckets —
    // the overwhelming majority — never reach the pair join) and apply
    // the COMBINED-size skew cap, all in a single bucket shuffle. The
    // self-join below then reads the persisted frame twice.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("bucket")
    val bounded = tracked(allB
      .withColumn("_hasNew",
        max(when(col("is_new"), 1).otherwise(0)).over(w))
      .withColumn("_bsz", count(lit(1)).over(w))
      .where(col("_hasNew") === 1 && col("_bsz") <= maxBucketSize)
      .select("id", "bucket", "is_new"))
    // persisted: the final plan references pairs THREE times (the verify
    // join plus both candIds branches below) — unpersisted, the bucket
    // self-join + distinct would run three times
    val pairs = tracked(bounded.select(col("bucket"), col("id").as("id1"),
      col("is_new").as("_n1"))
      .join(bounded.select(col("bucket"), col("id").as("id2"),
        col("is_new").as("_n2")), Seq("bucket"))
      .where(col("id1") < col("id2") && (col("_n1") || col("_n2")))
      .select("id1", "id2").distinct())
    // shingle only what verification needs: the new batch plus the
    // candidate-touched slice of the corpus
    val candIds = pairs.select(explode(array(col("id1"), col("id2")))
      .as("_cid")).distinct()
    val needed = corpus.join(candIds, col(idCol) === col("_cid"),
      "left_semi")
    // persisted: both verify sides read it, and unlike the full-corpus
    // shingle table in minhashLsh this one is candidate-pruned (bounded by
    // the surviving pair count, not the corpus), so it stays small at scale
    val docs = tracked(
      needed.unionByName(
        newDocs.select(needed.columns.toIndexedSeq.map(col): _*))
      .select(col(idCol).as("id"),
        array_distinct(call_function("graft_word_shingles",
          text.words(col(textCol)), lit(shingleWords))).as("shingles"))
      .where(size(col("shingles")) > 0))
    pairs
      .join(docs.select(col("id").as("id1"), col("shingles").as("sh1")),
        Seq("id1"))
      .join(docs.select(col("id").as("id2"), col("shingles").as("sh2")),
        Seq("id2"))
      .withColumn("jaccard", round(
        size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))), 5))
      .where(col("jaccard") >= jaccardThreshold)
      .select("id1", "id2", "jaccard")
  }

  /** SimHash near-dup: documents whose `bits`-wide simhash prefixes collide
    * are candidates; pairs within `maxHamming` are reported.
    *
    * Skew guard: a boilerplate-heavy corpus concentrates documents on a few
    * prefixes, and an uncapped prefix bucket self-joins quadratically.
    * Buckets above `maxBucketSize` are dropped before the self-join — the
    * same recall-only cap [[minhashLsh]] and [[embeddingNearDup]] use — so
    * the shuffled pair count stays O(n * maxBucketSize).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              bits: Int = 32, prefixBits: Int = 12,
              maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val docs = tracked(df.select(col(idCol).as("id"),
      call_function("graft_simhash", text.bpeTokens(col(textCol)), lit(bits))
        .as("sh"))
      .where(length(col("sh")) === bits)) // reused by both join sides
    // one window pass applies the prefix-bucket cap in the same narrow
    // (id, sh, pfx) shuffle the self-join needs anyway
    val wp = org.apache.spark.sql.expressions.Window.partitionBy("pfx")
    val bounded = docs.select(col("id"), col("sh"),
      col("sh").substr(1, prefixBits).as("pfx"))
      .withColumn("_bsz", count(lit(1)).over(wp))
      .where(col("_bsz") <= maxBucketSize)
      .select("id", "sh", "pfx")
    val l = bounded.select(col("id").as("id1"), col("sh").as("sh1"),
      col("pfx"))
    val r = bounded.select(col("id").as("id2"), col("sh").as("sh2"),
      col("pfx"))
    l.join(r, Seq("pfx"))
      .where(col("id1") < col("id2"))
      .withColumn("hamming",
        call_function("graft_hamming", col("sh1"), col("sh2")))
      .where(col("hamming") <= maxHamming)
      .select("id1", "id2", "hamming")
  }

  /** Character n-gram Jaccard similarity join with PREFIX FILTERING
    * (Bayardo et al., "Scaling Up All Pairs Similarity Search", WWW'07):
    * an EXACT similarity join — every pair with Jaccard >= threshold is
    * returned, unlike hash blocking which drops pairs.
    *
    * Grams are mapped to 64-bit hashes (Jaccard-preserving; the exact
    * verify step makes the output independent of the representation, so
    * the SQL oracle can work over raw gram strings) and df-sorted; a
    * document's prefix is its first |g| - ceil(t*|g|) + 1 hashes. Two sets with J >= t MUST
    * share a prefix element, so exploding the prefix as the join key
    * generates a candidate superset with no recall loss, at ~(1-t)|g| keys
    * per doc instead of an all-pairs product. Candidates are id-only pairs;
    * gram sets are re-joined afterwards for exact verification.
    */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 4, threshold: Double = 0.2,
                   wordGrams: Boolean = false): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val grams =
      if (wordGrams)
        call_function("graft_md5_array",
          array_distinct(call_function("graft_word_shingles",
            text.words(col(textCol)), lit(n))))
      else
        call_function("graft_md5_char_ngrams",
          trim(regexp_replace(lower(col(textCol)), "\\s+", " ")), lit(n))
    // Grams are folded to 64-bit xxhash64 keys immediately: Jaccard is a
    // set measure, so any injective-in-practice mapping preserves it (a
    // 2^-64 collision would merge two grams — negligible at any corpus
    // size), and longs instead of 32-char hex strings shrink every
    // downstream shuffle — the df join, the doc-level sort, the prefix
    // self-join keys and the verify-side gram arrays — by ~4x while making
    // comparisons single instructions. The exact verify step means the
    // final (id1, id2, jaccard) output is representation-independent.
    // NOT persisted: both consumers (df-count, doc sort) re-run only the
    // narrow native gram kernel — cheaper at corpus scale than holding a
    // corpus-sized gram table in executor storage.
    val raw = df.select(col(idCol).as("id"),
      array_distinct(transform(grams, g => xxhash64(g))).as("grams"))
      .where(size(col("grams")) > 0)
    // Global document-frequency order (rarest gram first): candidates per
    // prefix key stay small because prefixes hold only rare grams — the
    // AllPairs/PPJoin ordering. Any global total order preserves the recall
    // guarantee; df-order is the one that scales. Ties break on the hash.
    // The df count is a window over the exploded gram stream — one gram
    // shuffle instead of a count groupBy + a second stream-wide re-join.
    val wg = org.apache.spark.sql.expressions.Window.partitionBy("g")
    // referenced three times below (prefix keys + both pair sides)
    val docs = tracked(raw.select(col("id"), explode(col("grams")).as("g"))
      .withColumn("df", count(lit(1)).over(wg))
      .groupBy("id")
      .agg(transform(
        array_sort(collect_list(struct(col("df"), col("g")))),
        s => s.getField("g")).as("grams")))
    val prefixLen =
      (size(col("grams")) - ceil(size(col("grams")) * threshold) + 1)
        .cast("int")
    // Prefix keys carry (size, position) so the exact AllPairs length
    // filter and the PPJoin positional filter prune candidates BEFORE the
    // distinct + verify join — on low-diversity corpora the raw prefix
    // collisions approach all-pairs, and the verify join (shuffling full
    // gram arrays per candidate) is the dominant cost. Both filters are
    // exact: a pair with J >= t always passes them at its first shared
    // prefix element, so recall is unchanged.
    val keyed = docs.select(col("id"), size(col("grams")).as("sz"),
      posexplode(slice(col("grams"), lit(1), prefixLen)).as(Seq("p", "pfx")))
    val pairs = keyed
      .select(col("pfx"), col("id").as("id1"), col("sz").as("sz1"),
        col("p").as("p1"))
      .join(keyed.select(col("pfx"), col("id").as("id2"),
        col("sz").as("sz2"), col("p").as("p2")), Seq("pfx"))
      .where(col("id1") < col("id2"))
      // length filter: J >= t forces min(|g|) >= t * max(|g|)
      .where(least(col("sz1"), col("sz2")).cast("double") >=
        lit(threshold) * greatest(col("sz1"), col("sz2")))
      // positional filter: overlap <= 1 + min(remaining suffix lengths);
      // required overlap alpha = ceil(t/(1+t) * (|g1|+|g2|))
      .where((lit(1) + least(col("sz1") - col("p1") - 1,
        col("sz2") - col("p2") - 1)).cast("double") >=
        ceil(lit(threshold / (1 + threshold)) *
          (col("sz1") + col("sz2"))).cast("double"))
      .select("id1", "id2").distinct()
    pairs
      .join(docs.select(col("id").as("id1"), col("grams").as("g1")), Seq("id1"))
      .join(docs.select(col("id").as("id2"), col("grams").as("g2")), Seq("id2"))
      .withColumn("jaccard", round(
        size(array_intersect(col("g1"), col("g2"))).cast("double") /
          size(array_union(col("g1"), col("g2"))), 5))
      .where(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** Resolve near-duplicate PAIRS into duplicate CLUSTERS (connected
    * components): every document reachable through a chain of dup pairs
    * lands in one cluster keyed by its smallest member id — the step a
    * dedup pipeline needs between pair generation (d2/d3/d4/d5) and
    * "keep one per cluster".
    *
    * Pregel-style iterative min-label propagation: each round joins the
    * symmetrized edge list against the current labels and takes the
    * per-node min of (own label, neighbor labels) — one narrow (node,
    * label) shuffle per round, converging in graph-diameter rounds (dup
    * chains are shallow: LSH cliques plus short bridges, so typically
    * 2-4). The label table is localCheckpointed each round (lineage
    * stays flat) and the driver only ever sees the scalar changed-count
    * that decides convergence — no vertex data on the driver. At 100 TB
    * the same loop is how GraphX/Pregel CC runs.
    *
    * The O(log diameter) alternative (two hops + a pointer-jump per
    * round, the shortcutting idea of Kiveris et al.'s alternating
    * MapReduce CC) was MEASURED slower on real dup graphs at sf0.1 —
    * 1.6-1.8 s vs 0.65-0.8 s (d6 pairs) — because dup-graph diameter is
    * already 2-4: the extra propagation join and the label self-join per
    * round cost more than the 1-2 materialization rounds they save.
    * Single-hop stays the default; revisit only if a corpus ever ships
    * chain-shaped components (the maxIters guard would fire first).
    *
    * Output: (id, cluster, cluster_size) for every node that appears in
    * a pair — singletons never enter the edge list and stay implicit.
    *
    * Fails loudly (IllegalArgumentException) rather than returning
    * silently-truncated clusters if convergence needs more than
    * `maxIters` rounds — i.e. a component's diameter exceeds it. The
    * default 20 covers any realistic dup graph; callers feeding
    * adversarially chain-shaped graphs should raise `maxIters`
    * (cost is per-round, so unused headroom is free).
    */
  def duplicateClusters(pairs: DataFrame, id1Col: String = "id1",
                        id2Col: String = "id2",
                        maxIters: Int = 20): DataFrame = {
    // fwd is materialized BEFORE the symmetrizing union: both union
    // branches reference it, and relation de-duplication stops exchange
    // reuse between them, so an un-materialized fwd re-executes the
    // caller's whole pair-generation pipeline twice (for the d2-shaped
    // LSH input that was 2× the window + self-join + verify joins —
    // half the dx bench entry's shuffle bytes). One narrow (src, dst)
    // table, freed as soon as `edges` exists.
    val fwd = pairs.select(col(id1Col).as("src"), col(id2Col).as("dst"))
      .transform(Checkpoints.pin)
    // Pre-partition the loop-invariant edge table ONCE (guide §2.4) and
    // pin it with persist() rather than a checkpoint: a checkpoint comes
    // back as `Scan ExistingRDD` with UnknownPartitioning (measured on
    // 4.1.2 — the AQE final plan's partitioning is not propagated
    // through LogicalRDD), so the loop would re-shuffle the edge table
    // every round; a cached plan KEEPS its outputPartitioning (AQE is
    // disabled inside cached plans by default). The key is regime-chosen
    // (spark.graft.cc.partition, mirroring labelPropagation/PageRank):
    //  - "group" (src, the default): the label table is node-cardinality
    //    — whenever it broadcasts (every local/bench run, any cluster
    //    whose node table fits), the round's joins are explicit
    //    broadcasts that preserve the edge partitioning, so both the
    //    neighbor-min aggregation (keyed src) and the seed run
    //    exchange-free: ZERO per-round exchanges.
    //  - "join" (dst): for clusters whose label table exceeds broadcast —
    //    the per-round sort-merge join then reads the edge side
    //    exchange-free and only the (map-side partially min'd,
    //    node-cardinality) aggregation output shuffles.
    // fwd stays checkpointed — and alive until the loop ends, so an
    // evicted edges block can still recompute — to keep the one-time
    // materialization from executing the caller's pair-generation
    // pipeline once per union branch.
    val ccKey = pairs.sparkSession.conf
      .getOption("spark.graft.cc.partition").getOrElse("group")
    val bcastLabels = ccKey != "join"
    val edges = fwd.unionByName(
      fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(if (bcastLabels) col("src") else col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // seed label = min(self, neighbors): the node list needs a groupBy
    // pass anyway (was a distinct over the same rows), so round 1 of
    // min-label propagation comes free and the loop below starts from
    // distance-1 labels — one fewer join+checkpoint round per run
    var labels = edges.groupBy(col("src").as("node"))
      .agg(least(col("src"), min(col("dst"))).as("label"))
      .transform(Checkpoints.pin)
    // the checkpoint ROOT of the current labels (labels itself may be a
    // projection over it) — what Checkpoints.free releases per round
    var labelsCk = labels
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      // per round: neighbor-min via the edges join (min(own ∪ neighbors)
      // = least(own, min(neighbors)) — identical to the previous
      // union+groupBy form, but join-shaped so the pre-established edge
      // partitioning survives into the aggregation), then one narrow
      // labels join attaches the old label for the change count. The
      // label tables broadcast explicitly in the "group" regime: a
      // lazily-planned round otherwise statically plans sort-merge joins
      // whose edge-side exchange AQE only undoes after it was written.
      val nl = labels.select(col("node").as("dst"),
        col("label").as("_nl"))
      val nm = edges
        .join(if (bcastLabels) broadcast(nl) else nl, Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(min(col("_nl")).as("_nmin"))
      val next = nm
        .join(if (bcastLabels) broadcast(labels) else labels, Seq("node"))
        .select(col("node"),
          least(col("label"), col("_nmin")).as("label"),
          col("label").as("_old"))
        .transform(Checkpoints.pin)
      changed = next.where(col("label") < col("_old")).count()
      // the previous round's checkpoint is dead once `next` is
      // materialized — free its RDD blocks (Dataset.unpersist cannot:
      // see Checkpoints.free) or every round's node-label copy stays in
      // executor storage for the job's lifetime
      Checkpoints.free(labelsCk)
      labelsCk = next
      labels = next.drop("_old")
      iter += 1
    }
    // silent truncation would return WRONG clusters (a >maxIters-diameter
    // chain split into several components) — fail loudly instead
    require(changed == 0,
      s"duplicateClusters did not converge in $maxIters rounds " +
        "(component diameter exceeds maxIters); raise maxIters")
    // the result below reads only the final labels checkpoint
    edges.unpersist(blocking = false)
    Checkpoints.free(fwd)
    // cluster sizes as a window over the final labels — one shuffle
    // instead of a count groupBy plus a re-join
    labels.select(col("node").as("id"), col("label").as("cluster"))
      .withColumn("cluster_size", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("cluster")))
      .select("id", "cluster", "cluster_size")
  }

  /** Asymmetric CONTAINMENT near-dup: pairs where one document's gram
    * set largely sits inside the other's — |grams(A) ∩ grams(B)| /
    * min(|A|, |B|) ≥ threshold. Jaccard (d2/d4) misses the
    * quote-inside-article / boilerplate-wrapper case: a 50-gram snippet
    * embedded verbatim in a 5000-gram page has Jaccard ~0.01 but
    * containment 1.0 — this is the detector for subset duplication.
    *
    * Scale shape: distinct word n-grams stream as (id, gram) rows; grams
    * whose document frequency exceeds `maxDf` are dropped BEFORE the
    * pair self-join (the d2/d3 skew cap — a boilerplate gram in a
    * million docs would explode quadratically; dropping it only
    * undercounts `shared`, so the filter is recall-only). Intersections
    * are one (id_a, id_b) groupBy over the gram-keyed self-join; sizes
    * join back per side. No gram text crosses the pair shuffle — ids
    * only.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, threshold: Double = 0.5,
                       maxDf: Long = 1000L): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val grams = tracked(df.select(col(idCol).as("id"),
      explode(array_distinct(call_function("graft_word_shingles",
        text.words(col(textCol)), lit(n)))).as("g")))
    val sizes = grams.groupBy("id").agg(count(lit(1)).as("sz"))
    val rare = grams.groupBy("g").agg(count(lit(1)).as("gdf"))
      .where(col("gdf") <= maxDf).select("g")
    val pruned = grams.join(rare, Seq("g"))
    val l = pruned.select(col("g"), col("id").as("id_a"))
    val r = pruned.select(col("g"), col("id").as("id_b"))
    l.join(r, Seq("g"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")),
        Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")),
        Seq("id_b"))
      .withColumn("containment", round(
        col("shared") / least(col("sz_a"), col("sz_b")), 5))
      .where(col("containment") >= threshold)
      .select("id_a", "id_b", "shared", "sz_a", "sz_b", "containment")
  }

  /** Benchmark decontamination: corpus documents sharing at least
    * `minShared` distinct word n-grams with ANY benchmark document — the
    * standard eval-set leak check for training corpora.
    *
    * Scale shape: the benchmark side (small: eval sets are thousands of
    * rows, the corpus is billions) collapses to a distinct gram set that
    * the corpus gram stream joins against — id-only rows through the
    * shuffle, one groupBy for the per-document shared count. AQE
    * broadcasts the benchmark grams when they fit.
    */
  def contamination(corpus: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int = 8,
                    minShared: Long = 1L): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    def grams(df: DataFrame) = call_function("graft_word_shingles",
      text.words(df.col(textCol)), lit(n))
    val bg = bench.select(explode(array_distinct(grams(bench))).as("g"))
      .distinct()
    corpus
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(grams(corpus))).as("g"))
      .join(bg, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("shared_grams")) // grams pre-distinct per doc
      .where(col("shared_grams") >= minShared)
  }

  /** Embedding-cosine near-duplicate pairs, blocked by the CONTENT-DERIVED
    * sign-LSH bucket of the vector itself (vectors.signBucket over the
    * first `signBits` dimensions) — no caller-supplied label whose skew the
    * operator can't control. Near-identical vectors share all sign bits, so
    * recall for near-dups is high; a `maxBucketSize` guard drops
    * pathological hot buckets (like minhashLsh's), keeping the within-block
    * pair count bounded at any corpus size. Capped buckets lose recall,
    * never precision.
    */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, signBits: Int = 8,
                       maxBucketSize: Int = 1000): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    // not persisted: each consumer re-runs a narrow (column-pruned) scan
    // + the sign-bucket expression, vs caching the full vector table
    val vecs = df.select(
      vectors.signBucket(col(vecCol), signBits).as("block"),
      col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val keep = vecs.groupBy("block").agg(count(lit(1)).as("_bsz"))
      .where(col("_bsz") <= maxBucketSize)
      .select("block")
    val bounded = vecs.join(keep, Seq("block"))
    val l = bounded.select(col("block"), col("id").as("id1"),
      col("v").as("v1"))
    val r = bounded.select(col("block"), col("id").as("id2"),
      col("v").as("v2"))
    l.join(r, Seq("block"))
      .where(col("id1") < col("id2"))
      .withColumn("cosine",
        round(call_function("graft_cosine", col("v1"), col("v2")), 5))
      .where(col("cosine") >= threshold)
      .select("id1", "id2", "cosine")
  }

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    * arXiv:2303.09540): block by a TRAINED spherical k-means clustering of
    * the embedding space, then score pairwise cosine only within each
    * cluster. Where [[embeddingNearDup]] blocks on raw sign bits (cheap,
    * recall decays for near-dups straddling a hyperplane), the learned
    * clusters adapt to the corpus's actual density — the blocking used by
    * production semantic-dedup pipelines.
    *
    * Scale shape: training + assignment are exactly the IVF plan
    * ([[Similarity.kmeansCodebook]] / broadcast centroids + the native
    * bounded_top_k(1) partial aggregate — at most one (id, cluster) row
    * per vector per map task crosses the shuffle). Pair generation is a
    * cluster-keyed self-join, O(sum over clusters of size^2); `nlist`
    * grows with the corpus (the SemDeDup paper holds cluster size roughly
    * constant at ~n/nlist) and `maxClusterSize` drops pathological hot
    * clusters the same recall-only way minhashLsh caps buckets, so the
    * shuffled pair count stays bounded at any corpus size. Resolution to
    * survivors composes with [[duplicateClusters]] + the d10 apply step
    * unchanged.
    */
  def semanticNearDup(df: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, initStep: Long, iters: Int = 2,
                      maxClusterSize: Int = 1000): DataFrame = {
    val vecs = df.select(col(idCol).as("cid"),
      col(vecCol).cast("array<double>").as("cvec"))
    semanticNearDupWith(df, idCol, vecCol, threshold,
      Similarity.kmeansCodebook(vecs, initStep, iters), maxClusterSize)
  }

  /** [[semanticNearDup]] against an ALREADY-TRAINED (centId, centVec)
    * codebook — production trains the clustering once and reuses it
    * across dedup sweeps (and shares it with the IVF serving index).
    */
  def semanticNearDupWith(df: DataFrame, idCol: String, vecCol: String,
                          threshold: Double, codebook: DataFrame,
                          maxClusterSize: Int = 1000): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    def cos(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      round(call_function("graft_cosine", a.cast("array<double>"),
        b.cast("array<double>")), 5)
    val vecs = df.select(col(idCol).as("cid"),
      col(vecCol).cast("array<double>").as("cvec"))
    val cents = codebook
    // final assignment: the IVF coarse-assignment plan (broadcast
    // centroids, map-side bounded_top_k(1)); ties break toward the lower
    // centroid id, mirroring the oracle's row_number order
    val assigned = Similarity.topKPerQuery(
      vecs.crossJoin(broadcast(cents))
        .select(col("cid"), col("centId"),
          cos(col("cvec"), col("centVec")).as("cosine")),
      1, "cid", "centId")
      .select(col("cid").as("id"), col("centId").as("cluster"))
    // skew cap fused into the (id, cluster) shuffle the self-join needs
    // anyway: over-cap clusters are dropped whole (recall-only, like the
    // LSH bucket caps) before any vector is re-joined
    val wc = org.apache.spark.sql.expressions.Window.partitionBy("cluster")
    val bounded = assigned
      .withColumn("_csz", count(lit(1)).over(wc))
      .where(col("_csz") <= maxClusterSize)
      .select("id", "cluster")
    val withVec = bounded.join(
      vecs.select(col("cid").as("id"), col("cvec").as("v")), Seq("id"))
    val l = withVec.select(col("cluster"), col("id").as("id1"),
      col("v").as("v1"))
    val r = withVec.select(col("cluster"), col("id").as("id2"),
      col("v").as("v2"))
    l.join(r, Seq("cluster"))
      .where(col("id1") < col("id2"))
      .withColumn("cosine", cos(col("v1"), col("v2")))
      .where(col("cosine") >= threshold)
      .select("id1", "id2", "cluster", "cosine")
  }

  /** Sub-document (chunk-level) exact dedup: split each document into
    * fixed-size non-overlapping word chunks, hash each chunk, report every
    * chunk that appears in MORE than one document — the boilerplate /
    * copy-paste detector that document-level dedup (exact, minhashLsh)
    * misses when only a passage is shared.
    *
    * One explode + one md5 groupBy: the shuffle carries (hash, id) pairs
    * only — never chunk text — so at 100 TB it is the same shape as
    * `exact` with a chunks-per-doc fanout. Trailing words short of a full
    * chunk are dropped (stable chunk boundaries under re-runs).
    * Output: chunk_hash, n_docs (distinct), n_occurrences (total),
    * ordered member doc list.
    */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
                 chunkWords: Int = 20): DataFrame = {
    val words = regexp_extract_all(lower(col(textCol)), lit("[a-z]+"), lit(0))
    val chunks = df
      .select(col(idCol).as("id"), words.as("w"))
      .select(col("id"), explode(
        // guard: sequence(0, -1) would DESCEND, not return empty
        when(size(col("w")) >= chunkWords,
          transform(sequence(lit(0),
            (size(col("w")) / chunkWords).cast("int") - 1),
            i => md5(array_join(
              slice(col("w"), i * chunkWords + 1, lit(chunkWords)), " "))))
          .otherwise(array()))
        .as("chunk_hash"))
    sharedChunks(chunks)
  }

  /** Shared rollup for the chunk-dedup variants: keep chunks seen in
    * more than one document, with counts and the ordered member list.
    */
  private def sharedChunks(chunks: DataFrame): DataFrame =
    chunks.groupBy("chunk_hash")
      .agg(countDistinct(col("id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        array_join(sort_array(collect_set(col("id").cast("string"))), ";")
          .as("doc_ids"))
      .where(col("n_docs") > 1)

  /** Exact duplicate-SPAN detection (the substring-dedup family of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better",
    * ACL'22): for each document, the maximal runs of word positions whose
    * `n`-gram (hashed) occurs at least `minCount` times corpus-wide —
    * i.e. the passages a substring deduplicator would cut, with word
    * coordinates. Differs from [[chunkDedup]]/[[cdcChunkDedup]], which
    * report which fixed/content-defined CHUNKS collide: this reports the
    * exact extent of every duplicated passage, including runs that cross
    * any chunking boundary.
    *
    * Plan (two shuffles, both narrow):
    *  1. positional gram stream (id, pos, hash) — one md5 per word
    *     position;
    *  2. gram frequencies by partial-aggregated groupBy; only hashes
    *     with count >= minCount survive — in a real corpus that table
    *     is FAR smaller than the gram stream (AQE broadcasts it when it
    *     fits), so the semi-join back marks duplicated positions without
    *     shuffling the stream a second time;
    *  3. per-doc gaps-and-islands (pos - row_number window) merges
    *     consecutive duplicated positions into maximal spans.
    * A boilerplate gram shared by millions of docs costs one counter in
    * the frequency agg (map-side combined), never a pair explosion —
    * this operator is linear where pairwise dedup needs its skew caps.
    *
    * Output: (doc_id, start_word, end_word, n_grams) — covered word
    * range inclusive, 0-based; end_word = last duplicated gram start
    * + n - 1.
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 8, minCount: Long = 2L): DataFrame = {
    val ws = text.words(col(textCol))
    val grams = df
      .select(col(idCol).as("doc_id"), ws.as("ws"))
      .where(size(col("ws")) >= n)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), size(col("ws")) - n),
          i => md5(concat_ws(" ", slice(col("ws"), i + 1, lit(n)))))))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("h"))
    val dupGrams = grams.groupBy("h").agg(count(lit(1)).as("_cnt"))
      .where(col("_cnt") >= minCount).select("h")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    grams.join(dupGrams, Seq("h"))
      .withColumn("_grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("_grp"))
      .agg(min(col("pos")).as("start_word"),
        (max(col("pos")) + (n - 1)).as("end_word"),
        count(lit(1)).as("n_grams"))
      .select("doc_id", "start_word", "end_word", "n_grams")
  }

  /** Per-document duplication ratio: the fraction of a document's word
    * `n`-grams that occur at least `minCount` times corpus-wide — the
    * standard "duplicated content" filter signal for training corpora
    * (drop/down-weight docs whose text is mostly boilerplate), and the
    * scalar companion of [[duplicateSpans]] (which reports WHERE the
    * duplicated passages are).
    *
    * Plan: the positional gram stream flags each gram against the
    * (far smaller, AQE-broadcast) duplicated-hash table via a left join,
    * then ONE per-doc groupBy computes total and duplicated counts
    * together — corpus-linear, skew-immune (a boilerplate gram is one
    * counter in the frequency agg).
    */
  def duplicationRatio(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 8, minCount: Long = 2L): DataFrame = {
    val ws = text.words(col(textCol))
    val grams = df
      .select(col(idCol).as("doc_id"), ws.as("ws"))
      .where(size(col("ws")) >= n)
      .select(col("doc_id"), explode(
        transform(sequence(lit(0), size(col("ws")) - n),
          i => md5(concat_ws(" ", slice(col("ws"), i + 1, lit(n))))))
        .as("h"))
    val dupGrams = grams.groupBy("h").agg(count(lit(1)).as("_cnt"))
      .where(col("_cnt") >= minCount)
      .select(col("h"), lit(1L).as("_d"))
    grams.join(dupGrams, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("_d"), lit(0L))).as("dup_grams"))
      .withColumn("dup_ratio",
        round(col("dup_grams").cast("double") / col("n_grams"), 5))
  }

  /** Duplicate-span REMOVAL — the apply step on top of [[duplicateSpans]]
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL'22: find duplicated substrings, then CUT them).
    * Keep-first-occurrence policy: for every word `n`-gram that occurs
    * `minCount`+ times corpus-wide, the globally first occurrence (by
    * (doc_id, pos) order) survives; every later occurrence's word range
    * is removed from its document. Self-repetition inside one document
    * collapses to the first copy the same way.
    *
    * Output: (doc_id, text_cut, cut_words) for EVERY input document —
    * text_cut is the surviving words joined by single spaces (the same
    * word normalization the span finder uses: [a-z]+ of the lowercased
    * text), cut_words the number removed.
    *
    * Scale shape — linear like [[duplicateSpans]], never pairwise:
    *  1. positional gram stream (one md5 per word position);
    *  2. ONE gram groupBy computes count + arg-min(doc_id, pos) together
    *     (partial-aggregated: a boilerplate gram shared by millions of
    *     docs is one (count, min) cell, not a pair explosion); only
    *     duplicated hashes survive, so the join back is against a table
    *     FAR smaller than the gram stream (AQE broadcasts it when it
    *     fits);
    *  3. per-doc gaps-and-islands window merges cut positions into
    *     maximal spans, collected per doc (bounded by doc length);
    *  4. the cut itself is a codegen'd array filter against the per-doc
    *     span list — no shuffle touches the text column except the final
    *     doc-keyed span join.
    */
  def cutDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 8, minCount: Long = 2L): DataFrame = {
    val docs = df.select(col(idCol).as("doc_id"),
      text.words(col(textCol)).as("ws"))
    val grams = docs
      .where(size(col("ws")) >= n)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), size(col("ws")) - n),
          i => md5(concat_ws(" ", slice(col("ws"), i + 1, lit(n)))))))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("h"))
    val firsts = grams.groupBy("h")
      .agg(count(lit(1)).as("_cnt"),
        min(struct(col("doc_id"), col("pos"))).as("_first"))
      .where(col("_cnt") >= minCount)
      .select("h", "_first")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val spans = grams.join(firsts, Seq("h"))
      .where(struct(col("doc_id"), col("pos")) =!= col("_first"))
      .withColumn("_grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("_grp"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + (n - 1)).as("e"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("_spans"))
    docs.join(spans, Seq("doc_id"), "left")
      .withColumn("_kept", when(col("_spans").isNull, col("ws"))
        .otherwise(filter(col("ws"), (_, i) =>
          !exists(col("_spans"), sp =>
            i.cast("long") >= sp.getField("s") &&
              i.cast("long") <= sp.getField("e")))))
      .select(col("doc_id"),
        concat_ws(" ", col("_kept")).as("text_cut"),
        (size(col("ws")) - size(col("_kept"))).cast("long").as("cut_words"))
  }

  /** Bloom-filter INCREMENTAL exact dedup — the Dolma-scale admission
    * check: is this new document's content hash already in the corpus?
    * The corpus collapses to a bit set of md5 content-hash positions
    * (<= `bits` rows, BROADCAST — [[BloomJoin]]'s portable md5 bit
    * math, so an external engine reproduces membership exactly), each
    * new doc tests its hash against it, and candidates are
    * exact-verified with one hash-keyed join so the output separates
    * `bloom_hit` from `is_dup` (the surplus is the false-positive
    * accounting, q17's contract).
    *
    * At 100 TB the verify join is the expensive half and the WHOLE
    * POINT of bloom admission is skipping it — accept the bounded FP
    * rate (fill^hashes) and drop new docs on `bloom_hit` alone; the
    * exact column is the calibration path (sample it to MEASURE the FP
    * rate), not the hot path. Complements [[minhashLshIncremental]]
    * (near-dup admission) with the exact-hash tier.
    */
  def bloomDedup(newDocs: DataFrame, corpus: DataFrame, idCol: String,
                 textCol: String, bits: Int = 65536,
                 hashes: Int = 3): DataFrame = {
    val corpusHashes = corpus.select(md5(col(textCol)).as("h")).distinct()
    val bitsDf = BloomJoin.buildBits(corpusHashes, "h", bits, hashes)
    val probe = newDocs.select(col(idCol), md5(col(textCol)).as("h"))
    val cand = BloomJoin.candidateKeys(probe.select("h"), "h", bitsDf,
      bits, hashes).withColumn("_pass", lit(true))
    probe
      .join(cand, Seq("h"), "left")
      .join(corpusHashes.withColumn("_dup", lit(true)), Seq("h"), "left")
      .select(col(idCol),
        coalesce(col("_pass"), lit(false)).as("bloom_hit"),
        coalesce(col("_dup"), lit(false)).as("is_dup"))
  }

  /** Stateless streaming form of [[bloomDedup]]'s admission test — the
    * hot path its Scaladoc promises: membership = "every hash position
    * present", re-expressed as `hashes` LEFT joins against the
    * broadcast bit set (one per hash function) instead of an
    * explode+count aggregation, so the plan is narrow + broadcast only:
    * it runs UNCHANGED on `readStream` (no aggregation state, no
    * watermark, per-row decisions survive micro-batch replay —
    * StreamingSpec proves stream == batch). `bitsDf` comes from
    * [[BloomJoin.buildBits]] over the corpus content hashes and is the
    * ONLY thing that needs refreshing as the corpus grows — the
    * admission stream never touches the corpus itself.
    */
  def bloomAdmit(newDocs: DataFrame, bitsDf: DataFrame, idCol: String,
                 textCol: String, bits: Int = 65536,
                 hashes: Int = 3): DataFrame = {
    def bitOf(j: Int, key: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column =
      pmod(conv(substring(md5(concat(lit(s"$j:"), key.cast("string"))),
        1, 7), 16, 10).cast("long"), lit(bits))
    val h = md5(col(textCol))
    val withBits = newDocs.select(
      col(idCol) +: (0 until hashes).map(j => bitOf(j, h).as(s"_b$j")): _*)
    (0 until hashes).foldLeft(withBits) { (df, j) =>
      df.join(broadcast(bitsDf.select(col("bit").as(s"_b$j"),
        lit(true).as(s"_hit$j"))), Seq(s"_b$j"), "left")
    }
      .select(col(idCol),
        (0 until hashes).map(j => coalesce(col(s"_hit$j"), lit(false)))
          .reduce(_ && _).as("bloom_hit"))
  }

  /** Dolma-style EXACT PARAGRAPH dedup: split each document on blank
    * lines, remove every paragraph whose exact text already occurred
    * earlier in the corpus (global (doc, position) order — the first
    * occurrence survives, matching the reference pipelines' bloom-filter
    * pass), and reassemble the survivors in document order. This is the
    * standard middle ground between document dedup (d1/d2 — misses
    * shared boilerplate inside distinct docs) and substring-span dedup
    * (d13/d14 — exact passage extents, but n-gram-priced): headers,
    * footers, nav blocks and license stanzas collapse to one corpus-wide
    * occurrence at string-equality cost.
    *
    * Plan: posexplode paragraphs → ONE md5-keyed aggregation whose
    * map-side partial is min(struct(doc, idx)) (16-byte hash + 12-byte
    * winner per distinct paragraph cross the exchange, never the
    * paragraph text twice) → hash-keyed join back → one doc-keyed
    * reassembly agg (array_agg of (idx, para) sorted locally). No
    * window, no countDistinct (winner-equality subsumes the count≥2
    * test), so at 100 TB every stage is a plain hash exchange that AQE
    * can re-split; the only wide rows are the docs themselves, which
    * already flow through every other text operator.
    */
  def paragraphDedup(df: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val paras = df
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\n\n")))
      .select(col("doc_id"), col("pos").cast("long").as("idx"),
        col("col").as("para"))
    val winners = paras
      .groupBy(md5(col("para")).as("h"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("_first"))
    paras.join(winners,
        md5(col("para")) === col("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_paras"),
        sum(when(struct(col("doc_id"), col("idx")) =!= col("_first"), 1L)
          .otherwise(0L)).as("n_removed"),
        concat_ws("\n\n",
          transform(array_sort(collect_list(
            when(struct(col("doc_id"), col("idx")) === col("_first"),
              struct(col("idx"), col("para"))))),
            p => p.getField("para"))).as("text_dedup"))
  }

  /** Fuzzy (edit-distance) self-join over a derived fixed-length key —
    * the entity-resolution primitive (near-identical titles, names, URLs)
    * that exact and token-set dedup both miss. Candidate pairs are
    * blocked on the key's `prefixLen`-char prefix, so the join stays a
    * bucketed equi-join; `levenshtein` (codegen'd) verifies inside the
    * block, never across the full corpus.
    *
    * Recall/cost dial: a true pair is missed only when (a) an edit falls
    * inside the first `prefixLen` chars — for uniformly-placed edits
    * P(miss) <= 1 - ((keyLen-prefixLen)/keyLen)^maxDist, and real
    * near-dup keys (titles, URLs) overwhelmingly share openings — or
    * (b) its block exceeds `maxBucketSize` and is dropped (the same
    * recall-only skew cap [[minhashLsh]] / [[simhash]] /
    * [[embeddingNearDup]] use). The default 4-char prefix gives ~456k
    * blocks (26^4) and the cap bounds every surviving block's self-join,
    * so the candidate count stays O(#blocks * maxBucketSize^2) no matter
    * the corpus size — a 2-char prefix's 676 blocks would each grow
    * linearly with the corpus and go quadratic. For exact-recall
    * edit-distance joins use [[ngramJaccard]]-style prefix filtering or a
    * PassJoin-family segment scheme instead of blocking.
    */
  def fuzzyJoin(df: DataFrame, idCol: String, textCol: String,
                keyLen: Int = 12, prefixLen: Int = 4,
                maxDist: Int = 2, maxBucketSize: Int = 1000): DataFrame = {
    val key = substring(regexp_replace(lower(col(textCol)),
      "[^a-z]", ""), 1, keyLen)
    // one window pass fuses the block-size skew cap into the narrow
    // (id, key, block) shuffle; the capped frame is persisted (~20
    // bytes/doc) so both self-join sides read the cache instead of
    // re-scanning the corpus + re-running the regexp
    val wb = org.apache.spark.sql.expressions.Window.partitionBy("blk")
    val bounded = tracked(df.select(col(idCol).as("id"), key.as("k"))
      .withColumn("blk", substring(col("k"), 1, prefixLen))
      .withColumn("_bsz", count(lit(1)).over(wb))
      .where(col("_bsz") <= maxBucketSize)
      .select("id", "k", "blk"))
    val l = bounded.select(col("blk"), col("id").as("id1"),
      col("k").as("k1"))
    val r = bounded.select(col("blk"), col("id").as("id2"),
      col("k").as("k2"))
    l.join(r, Seq("blk"))
      .where(col("id1") < col("id2"))
      // thresholded levenshtein: banded O(len*maxDist) with early exit
      // (-1 = above threshold) instead of the full O(len^2) DP — this
      // is the per-pair hot loop inside every block
      .withColumn("edit_dist",
        levenshtein(col("k1"), col("k2"), maxDist).cast("long"))
      .where(col("edit_dist") =!= -1L)
      .select("id1", "id2", "edit_dist")
  }

  /** Content-defined chunking (CDC) dedup: chunk boundaries are set by
    * the WORDS THEMSELVES — a word whose md5 satisfies
    * hash % boundaryMod == 0 ends the current chunk — so an insertion
    * early in a document only perturbs its own chunk, and every later
    * shared passage still re-aligns to identical chunks. That is the
    * property fixed-size chunking (`chunkDedup`) lacks: there one leading
    * word shifts EVERY subsequent chunk frame. Expected chunk length =
    * boundaryMod words.
    *
    * Plan: explode to (doc, pos, word) — one narrow shuffle keyed by doc
    * for the running boundary count (per-doc window, bounded partitions),
    * then the same (hash, id)-only dedup rollup as chunkDedup. Output
    * schema matches chunkDedup.
    */
  def cdcChunkDedup(df: DataFrame, idCol: String, textCol: String,
                    boundaryMod: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = regexp_extract_all(lower(col(textCol)), lit("[a-z]+"), lit(0))
    val exploded = df
      .select(col(idCol).as("id"), posexplode(words).as(Seq("pos", "w")))
      .withColumn("_flag",
        when(pmod(conv(substring(md5(col("w")), 1, 7), 16, 10).cast("long"),
          lit(boundaryMod)) === 0, 1).otherwise(0))
    val upToPrev = Window.partitionBy("id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunks = exploded
      .withColumn("chunk_id", coalesce(sum(col("_flag")).over(upToPrev),
        lit(0)))
      .groupBy(col("id"), col("chunk_id"))
      .agg(md5(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("w")))),
        x => x.getField("w")), " ")).as("chunk_hash"))
    sharedChunks(chunks)
  }
}
