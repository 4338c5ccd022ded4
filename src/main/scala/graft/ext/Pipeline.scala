package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** [EXT] End-to-end training-data corpus preparation — the composition the
  * individual [EXT] operators exist for, as one declarative plan:
  *
  *   1. exact dedup (keep the min doc_id per distinct text);
  *   2. language ID ([[TextAnalysis.languageId]] — CJK check + marker argmax);
  *   3. quality gate (min length for all; min stopword ratio for docs
  *      predicted en — the stopword list is English, so applying it to
  *      other languages would reject them wholesale; per-language gate
  *      lists are how production pipelines generalize this);
  *   4. per-language corpus stats (docs, whitespace + BPE-ish token totals,
  *      type/token ratio).
  *
  * 100 TB notes: stages 2-3 are pure projections fused by Catalyst into the
  * scan of stage 1's output, so the whole pipeline is TWO aggregation
  * shuffles — the dedup groupBy(text) and the final groupBy(predicted_lang),
  * both with partial aggregation — plus the final presentation sort's
  * range-partition exchange (3 exchanges total, pinned by PlanSpec),
  * regardless of corpus size. The ratio aggregate is
  * derived from integer token sums with a single final division, so it is
  * bit-exact and engine-independent (the oracle-determinism policy used
  * throughout; see ROUND1_NOTES.md).
  */
object Pipeline {
  type Q = (SparkSession, String) => DataFrame

  /** Minimum whitespace-token count for a doc to survive the gate. */
  private val minTokens = 20
  /** Minimum stopword ratio for docs predicted English (the only language
    * the stopword list covers). */
  private val minStopRatio = 0.04

  def corpusPrep(docs: DataFrame): DataFrame = {
    val deduped = docs.select(col("doc_id"), col("text"))
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
    val scored = TextAnalysis.languageId(deduped) // keeps text + tokens
      .withColumn("n_tok", size(col("tokens")))
      .withColumn("n_stop",
        expr(s"size(filter(tokens, t -> t IN ${TextAnalysis.stopList}))"))
      .withColumn("n_uniq", size(array_distinct(col("tokens"))))
      .withColumn("n_bpe",
        size(regexp_extract_all(col("text"), lit(TextAnalysis.bpeRegex), lit(0))))
      .withColumn("stopword_ratio",
        col("n_stop").cast("double") / col("n_tok"))
    scored
      .filter(col("n_tok") >= minTokens
        && (col("predicted_lang") =!= "en"
          || col("stopword_ratio") >= minStopRatio))
      .groupBy(col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_bpe")).as("n_bpe_tokens"),
        (sum(col("n_uniq")).cast("double") / sum(col("n_tok")).cast("double"))
          .as("uniq_token_ratio"))
      .orderBy("predicted_lang")
  }

  /** Tokenizer vocabulary build: corpus-wide token counts, ids assigned by
    * frequency (ties broken lexicographically), truncated to `maxVocab`.
    *
    * 100 TB notes: the count is a distributed partial+final groupBy, and
    * the frequency rank is computed WITHOUT a partition-less window (the
    * former formulation ranked the FULL aggregated vocabulary — millions
    * of rows at web scale — through one task; truncation to maxVocab only
    * happened afterwards). Same shard-offset decomposition as
    * [[packSequences]], with shards = exact
    * `(cnt, first-char)` groups, which are contiguous ranges of the
    * (cnt desc, token asc) sort order: per-group counts (bounded driver
    * state) prefix-sum on the driver into group bases, and the global
    * rank is base + row_number over a window PARTITIONED by group. The
    * Zipf tie mass at cnt=1 splits across first characters; a finer
    * prefix widens the split if one letter dominates — a parallelism
    * knob, never a correctness one. (Driver-side group ordering uses
    * Java string compare = UTF8 binary order for this ASCII corpus; a
    * full-unicode corpus would sort both sides by the same collation.)
    *
    * DRIVER STATE IS maxVocab-BOUNDED, not vocabulary-bounded (r14,
    * VERDICT r13 #3): every group holds >= 1 token, so a group whose
    * exclusive cumulative base is >= maxVocab cannot contain any rank
    * <= maxVocab — only the FIRST maxVocab groups in (cnt desc, pfx asc)
    * order can. The offsets therefore come from a distributed
    * TakeOrderedAndProject (`orderBy(...).limit(maxVocab)`), never a
    * vocabulary-scale collect (formerly one row per distinct
    * (cnt, prefix) — tens of millions at a 100 TB corpus). Tokens in
    * dropped groups are provably out-of-vocab and die in the inner
    * offsets join, which also keeps the ranking window to <= maxVocab
    * groups instead of the full vocabulary. */
  def buildVocab(docs: DataFrame, maxVocab: Int = 500): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs.select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .withColumn("pfx", substring(col("token"), 1, 1))
    val groups = counts.groupBy(col("cnt"), col("pfx"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("cnt").desc, col("pfx"))
      .limit(maxVocab)
      .collect()
      .sortBy(r => (-r.getLong(0), r.getString(1)))
    var acc = 0L
    val offsets = groups.map { r =>
      val o = (r.getLong(0), r.getString(1), acc); acc += r.getLong(2); o
    }.toSeq
    val spark = docs.sparkSession
    import spark.implicits._
    counts
      .join(broadcast(offsets.toDF("cnt", "pfx", "grp_base")), Seq("cnt", "pfx"))
      .withColumn("token_id", (col("grp_base") + row_number().over(
        Window.partitionBy(col("cnt"), col("pfx")).orderBy(col("token"))))
        .cast("int"))
      .filter(col("token_id") <= maxVocab)
      .select(col("token_id"), col("token"), col("cnt"))
      .orderBy("token_id")
  }

  /** Benchmark decontamination: flag training docs sharing >= `minShared`
    * distinct 3-gram shingles with any doc of the held-out eval set (here:
    * doc_id % 100 == 0 stands in for the benchmark suite). The eval shingle
    * set is small by construction (benchmarks are), so it BROADCASTS and
    * the training corpus is scanned once with a broadcast hash join — no
    * shuffle of the corpus at any size. */
  def decontaminate(docs: DataFrame, evalFilter: Column,
      minShared: Int = 3): DataFrame =
    contaminatedIds(docs.filter(!evalFilter), docs.filter(evalFilter),
      minShared).orderBy("doc_id")

  /** Contaminated doc ids of `corpus` against an eval frame — ONE
    * definition of the n-gram-overlap contamination rule, shared by
    * [[decontaminate]] (the registered surface) and [[ingestToPack]]'s
    * stage 3 so the threshold/shingle semantics cannot drift. */
  private def contaminatedIds(corpus: DataFrame, evalDocs: DataFrame,
      minShared: Int): DataFrame = {
    import graft.functions.VectorFunctions.shingleSet
    def shingles(df: DataFrame): DataFrame = df
      .select(col("doc_id"), explode(
        shingleSet(split(col("text"), " "))).as("shingle"))
    val evalSh = shingles(evalDocs).select(col("shingle")).distinct()
    shingles(corpus)
      .join(broadcast(evalSh), "shingle")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** First 8 hex digits of md5(doc_id) as a long — the engine-portable
    * per-doc hash every sampling/split decision derives from (the
    * DuckDB twins compute the identical value). */
  private def md5Hash32(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long")

  /** The 0-99 split bucket over [[md5Hash32]] — one definition for
    * [[stableSplit]], [[ingestToPack]]'s leak-free stage, and any other
    * percent-split decision (drift here would silently re-split a
    * corpus). */
  private[ext] def md5Bucket(id: Column): Column =
    (md5Hash32(id) % 100).cast("int")

  /** Stable reproducible train/val split: bucket = first 8 hex digits of
    * md5(doc_id) mod 100 — engine-portable (the DuckDB twin computes the
    * identical bucket), independent of row order, partitioning, and corpus
    * growth (a doc keeps its split forever). Pure projection: zero
    * shuffles at any scale. */
  def stableSplit(docs: DataFrame, trainPct: Int = 90): DataFrame = docs
    .select(col("doc_id"), md5Bucket(col("doc_id")).as("bucket"))
    .withColumn("split",
      when(col("bucket") < trainPct, "train").otherwise("val"))
    .orderBy("doc_id")

  /** Stratified per-class sample: `perClass` docs per language, chosen by
    * md5(doc_id) order — deterministic, engine-portable, and unbiased
    * w.r.t. any data ordering (a LIMIT-per-group over storage order is
    * not). One shuffle on the class key; the window sorts only within
    * class partitions. */
  def stratifiedSample(docs: DataFrame, perClass: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs
      .withColumn("h", md5(col("doc_id").cast("string")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("h"))))
      .filter(col("rn") <= perClass)
      .select(col("lang"), col("rn"), col("doc_id"))
      .orderBy("lang", "rn")
  }

  /** Default target language mixture for [[mixtureRebalance]] — sums to 1;
    * langs absent from the map get weight 0 (excluded from the rebalanced
    * corpus, the standard mixture-spec contract). */
  private[ext] val mixTarget: Seq[(String, Double)] = Seq(
    ("en", 0.30), ("de", 0.20), ("es", 0.20), ("fr", 0.15), ("zh", 0.15))

  /** Domain-mixture rebalancing (the DoReMi/data-mixing shape): downsample
    * each language bucket so the surviving corpus matches `target`
    * proportions, keeping the total as large as the pools allow —
    * `s_total = min_g(n_g / p_g)` is the largest corpus the binding group
    * can supply, and group g keeps docs at rate `p_g * s_total / n_g`
    * (exactly 1 for the binding group).
    *
    * Selection is a deterministic hash threshold, NOT a per-group quota:
    * a doc survives iff its md5 bucket (first 8 hex digits, uniform on
    * [0, 2^32)) falls below the group's rate threshold. That makes the
    * whole operator a PURE PROJECTION over the corpus — two tiny
    * aggregates (per-lang counts → rates, a handful of rows) broadcast
    * into one scan+filter — zero corpus shuffles at any scale, where the
    * exact-quota alternative ([[stratifiedSample]]'s row_number window)
    * sorts every group through a per-lang partition and C partitions
    * serialize a 100 TB corpus through C tasks. Achieved counts are
    * Binomial(n_g, rate_g) — concentration makes the realized mixture
    * exact to ~1/sqrt(n) at corpus scale, the standard trade. Rates and
    * buckets are engine-portable (IEEE doubles + md5), so the DuckDB
    * twin selects the identical doc set. */
  def mixtureRebalance(docs: DataFrame,
      target: Seq[(String, Double)] = mixTarget): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tgt = target.toDF("lang", "p")
    val pool = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_pool"))
      .join(broadcast(tgt), "lang") // inner: zero-weight langs drop out
    val sTotal = pool.agg(min(col("n_pool") / col("p")).as("s_total"))
    val rates = pool.crossJoin(sTotal)
      .select(col("lang"),
        floor(least(lit(1.0), col("p") * col("s_total") / col("n_pool"))
          * lit(4294967296.0)).cast("long").as("thresh"))
    docs
      .join(broadcast(rates), "lang")
      .filter(md5Hash32(col("doc_id")) < col("thresh"))
      .select(col("doc_id"), col("lang"), col("thresh"))
      .orderBy("doc_id")
  }

  /** Temperature-scaled mixture plan (the multilingual exponent-smoothing
    * sampler popularized by mBERT/XLM-R: q_s ∝ n_s^α with α = 1/T): per
    * source, the raw share p_raw = n_s/N, the temperature-flattened
    * sampling share p_temp = n_s^α / Σ n^α, and the row target for a
    * fixed budget. α < 1 up-samples the tail sources a raw-proportional
    * mixture starves — the standard knob between proportional (α=1) and
    * uniform (α=0).
    *
    * Complement to [[mixtureRebalance]] (DoReMi-style explicit target
    * weights): here the weights are DERIVED from corpus counts. Scale
    * shape: one count aggregation (source-keyed, map-side combined);
    * the normalizers are a 1-row broadcast — the same bounded scalar
    * side as the mixture rebalancer, never corpus-sized. */
  def mixTemperature(docs: DataFrame, alpha: Double = 0.5,
      budget: Long = 1000L): DataFrame = {
    val pool = docs.groupBy(col("source")).agg(count(lit(1)).as("n_rows"))
    val totals = pool.agg(sum(col("n_rows")).as("total"),
      sum(pow(col("n_rows"), lit(alpha))).as("z"))
    pool.crossJoin(broadcast(totals))
      .select(col("source"), col("n_rows"),
        round(col("n_rows") / col("total"), 6).as("p_raw"),
        round(pow(col("n_rows"), lit(alpha)) / col("z"), 6).as("p_temp"),
        round(lit(budget.toDouble) * pow(col("n_rows"), lit(alpha)) / col("z"))
          .cast("long").as("target_rows"))
      .orderBy("source")
  }

  /** Sequence packing by prefix-sum binning: docs in stable doc_id order
    * are packed into `budget`-token bins via a running token cumsum —
    * bin = floor((cumsum - n_tok) / budget), i.e. a doc goes to the bin
    * its FIRST token lands in (greedy packing's contiguous approximation;
    * docs may straddle bins, which real packers either split or pad — the
    * binning math is the distributed-friendly part either way).
    *
    * 100 TB notes: a single global-order cumsum window serializes the
    * whole corpus through one task, so the cumsum is decomposed into
    * contiguous doc_id-range SHARDS (`shard = floor(doc_id / shardSize)`,
    * so shard k's ids all precede shard k+1's and the per-shard order
    * concatenates to the global order):
    *   1. per-shard partitioned window computes the within-shard running
    *      sum — parallel across shards, each bounded by shardSize rows;
    *   2. a tiny per-shard total aggregate (one row per shard — thousands
    *      of rows at web scale) is collected and prefix-summed on the
    *      driver into each shard's base offset, the same
    *      driver-resident-small-state pattern as the IVF coarse
    *      quantizer ([[Similarity.ivfTopK]]);
    *   3. offsets broadcast-join back and `cum_tok = base + within-shard
    *      cumsum` — integer arithmetic, so the result is byte-identical
    *      to the single-window form and the global-cumsum oracle binds
    *      unchanged.
    * No partition-less WindowExec anywhere in the plan (gated by
    * PlanSpec's global-window gate). */
  def packSequences(docs: DataFrame, budget: Int = 2048,
      shardSize: Int = 4096): DataFrame =
    packCumsum(
      docs.select(col("doc_id"), size(split(col("text"), " ")).as("n_tok"),
        floor(col("doc_id") / shardSize).cast("long").as("shard")),
      "n_tok", "cum_tok", budget)
      .select(col("doc_id"), col("n_tok"), col("cum_tok"), col("bin"))
      .orderBy("doc_id")

  /** The shard-offset cumsum shared by [[packSequences]] and [[bpePack]]:
    * given `(doc_id, <countCol>, shard)` with shards = contiguous doc_id
    * ranges, adds `<cumCol>` (exact global running sum) and `bin`.
    * One row per shard; prefix-sum on the driver. Driver memory bounds
    * this at #shards = maxDocId/shardSize rows of (long, long) — callers
    * at extreme corpus sizes raise shardSize to keep that small (any
    * shardSize yields byte-identical output: the decomposition of the
    * global cumsum is exact; shardSize only trades parallelism for
    * driver-side offset count). */
  private def packCumsum(sizedRaw: DataFrame, countCol: String, cumCol: String,
      budget: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Materialize the per-doc size frame ONCE (r17, guide §2 recompute
    // elimination — the same disease/cure as r16's containment pairs):
    // this function runs TWO actions over `sized` — the shard-totals
    // collect below and the caller's eventual action over the returned
    // frame — and without materialization each one re-executes the whole
    // upstream pipeline. For x_pipeline_full that upstream is the
    // five-stage flagship (ingest gate, dedup anti-joins, the
    // decontamination shingle join, and the per-word trained-BPE replace
    // chain — the most expensive projection in the module); measured at
    // bench SF the entry paid it twice, once per action. The frame is
    // per-doc NARROW metadata (3-4 numeric cols — the §8 "decide with
    // small rows" proxy), so the checkpoint is KB-per-million-docs, not
    // corpus-sized. Eager, because the first consumer is the collect
    // right below; ContextCleaner frees the blocks when the plan drops.
    val sized = sizedRaw.localCheckpoint(true)
    val totals = sized.groupBy(col("shard"))
      .agg(sum(col(countCol)).as("tot"))
      .orderBy(col("shard"))
      .collect()
    var acc = 0L
    val offsets = totals.map { r =>
      val o = (r.getLong(0), acc); acc += r.getLong(1); o
    }.toSeq
    val spark = sized.sparkSession
    import spark.implicits._
    val offDf = offsets.toDF("shard", "shard_base")
    sized
      .join(broadcast(offDf), "shard")
      .withColumn(cumCol,
        col("shard_base") + sum(col(countCol)).over(
          Window.partitionBy(col("shard")).orderBy(col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("bin",
        floor((col(cumCol) - col(countCol)) / budget).cast("long"))
  }

  /** The trained-tokenizer round trip the BPE machinery exists for, in
    * ONE registered plan: apply [[Bpe.pretrainedMerges]] (the committed
    * train-once artifact) to every word of every doc via the replace-chain
    * projection ([[Bpe.subtokenCountCol]] — true segmentation of any word,
    * no vocab join), aggregate per-doc TRAINED sub-token counts row-locally
    * (array HOFs — no explode, no extra shuffle), and pack docs into
    * `budget`-sub-token bins with the exact shard-offset cumsum. This is
    * what a pretraining pipeline actually runs between tokenizer training
    * and batch assembly: counts under the REAL tokenizer drive packing,
    * not whitespace proxies. Corpus-side cost at 100 TB: one scan + the
    * per-shard window; the only aggregates are shard totals (one row per
    * shard). The DuckDB twin inlines the identical replace chain
    * ([[Bpe.subtokenCountSql]]), so the whole round trip is
    * oracle-checked end-to-end. */
  def bpePack(docs: DataFrame, budget: Int = 2048,
      shardSize: Int = 4096): DataFrame =
    packCumsum(
      docs
        .withColumn("tokens", split(col("text"), " "))
        .select(col("doc_id"), size(col("tokens")).as("n_words"),
          aggregate(
            transform(col("tokens"), w => Bpe.subtokenCountCol(w)),
            lit(0L), (acc, x) => acc + x.cast("long")).as("n_subtokens"),
          floor(col("doc_id") / shardSize).cast("long").as("shard")),
      "n_subtokens", "cum_sub", budget)
      .select(col("doc_id"), col("n_words"), col("n_subtokens"),
        col("cum_sub"), col("bin"))
      .orderBy("doc_id")

  /** The INGEST-TO-PACK FLAGSHIP — the five oracle-backed stages a
    * pretraining data pipeline actually chains, registered as ONE plan
    * (r7 verdict item 6):
    *
    *   1. INGEST GATE ([[Dedup.nearDupIngestGate]]): even doc_ids stand in
    *      for the existing corpus, odd for the incoming crawl batch;
    *      batch docs near-duplicating the corpus (exact-verified Jaccard
    *      >= 0.5 on band-matched candidates) are refused admission.
    *   2. DEDUP APPLY: one minhash pair-finding pass over the post-ingest
    *      corpus, connected components, keep each cluster's canonical
    *      (min doc_id) — the internal near-dups the gate cannot see
    *      (corpus-corpus and batch-batch pairs).
    *   3. DECONTAMINATE: survivors sharing >= 3 distinct 3-gram shingles
    *      with the held-out eval set (doc_id % 100 == 0) are dropped —
    *      including eval docs themselves that reached this point.
    *   4. LEAK-FREE SPLIT: md5-bucket split keyed by the cluster
    *      canonical id. Survivors of stage 2 ARE their clusters'
    *      canonicals (doc_id == cluster_id by construction), so the
    *      cluster-keyed bucket is md5(doc_id) — the one pair-finding pass
    *      serves both stages, the production shape. Train = bucket < 90.
    *   5. BPE PACK ([[bpePack]]): the committed trained tokenizer's
    *      replace-chain counts drive exact shard-offset cumsum packing of
    *      the train split into 2048-sub-token bins.
    *
    * 100 TB notes: every join the corpus sees is broadcast (gate matches,
    * dropped ids, contaminated ids, shard offsets — all duplicate-scale
    * or shard-scale, never corpus-scale); the only corpus-wide shuffles
    * are the pair-finder's banded aggregates and the per-shard pack
    * window. The DuckDB twin recomputes all five stages from first
    * principles (exact all-pairs Jaccard via the recursive-CTE closure —
    * the same oracle-equivalence argument as x_dedup_apply), so the
    * whole composition is hash-gated end-to-end. */
  def ingestToPack(s: SparkSession, d: String, budget: Int = 2048,
      shardSize: Int = 4096): DataFrame =
    bpePack(ingestToPackPrePack(s, d), budget, shardSize)

  /** Stages 1-4 of [[ingestToPack]] (gate → dedup → decontaminate →
    * split), returning the train-split corpus frame stage 5 packs.
    * Package-private so the plan gate (PlanSpec) can assert the
    * corpus-side join shapes HERE — since r17, [[packCumsum]] eagerly
    * materializes its per-doc size frame, so the registered entry's
    * final plan legitimately starts at that checkpoint and no longer
    * shows these stages. */
  private[graft] def ingestToPackPrePack(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VectorFunctions.shingleSet
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    // 1. gate. The post-ingest corpus feeds THREE downstream consumers
    // (pair-finder, dedup anti-join, decontaminate scan) — an eager
    // localCheckpoint pays the gate's band-probe/verify joins once
    // instead of once per consumer (the IvfIndex.train / CC residency
    // pattern; ContextCleaner frees the blocks when the plan is dropped)
    val gateIndex = Dedup.buildIngestIndex(corpus)
    val admitted = Dedup.nearDupIngestGate(batch, gateIndex)
    val ingested = corpus.unionByName(admitted)
      .repartition(s.sparkContext.defaultParallelism)
      .localCheckpoint(true)
    // the eager checkpoint above is the gate's one consumer — release
    // the index's corpus-scale cached frames instead of pinning them
    // for the session (the owned-cache discipline IngestIndex.close
    // exists for)
    gateIndex.close()
    // 2. dedup apply (pair pass reused conceptually by stage 4). The
    // signature cache is scoped to this invocation's fresh checkpoint
    // plan (never shared across entries), and edgeComponentLabels
    // materializes the edge lineage eagerly — close the handle right
    // after so the corpus-scale (doc_id, sig) cache frees instead of
    // pinning one dead entry per invocation (r17; the owned-cache
    // discipline CorpusHandle.close exists for).
    val corpusHandle = Dedup.openCorpus(ingested)
    val edges = corpusHandle.minhashPairs()
      .select(col("doc_a"), col("doc_b"))
    val dropped = Dedup.edgeComponentLabels(edges)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    corpusHandle.close()
    val deduped = ingested.join(broadcast(dropped), Seq("doc_id"), "left_anti")
    // 3. decontaminate vs the held-out eval shingle set — the ONE
    // contamination rule (shared with the registered decontaminate)
    val contaminated = contaminatedIds(deduped,
      docs.filter(col("doc_id") % 100 === 0), minShared = 3)
      .select(col("doc_id"))
    val clean = deduped.join(broadcast(contaminated), Seq("doc_id"), "left_anti")
    // 4. leak-free split (survivors are canonicals: cluster_id == doc_id)
    clean.filter(md5Bucket(col("doc_id")) < 90)
  }

  /** Overlapping token-window chunking — the unit embeddings/RAG indexes
    * operate on. `width`-token chunks every `stride` tokens (half-overlap
    * by default), chunk 0 always present even for short docs. Pure
    * per-row Generate (explode) — no shuffle at any scale; chunk counts
    * scale with corpus tokens, which is the point of doing it
    * distributed. */
  def chunk(docs: DataFrame, width: Int = 32, stride: Int = 16): DataFrame = docs
    .withColumn("tokens", split(col("text"), " "))
    .select(col("doc_id"),
      posexplode(expr(
        s"""transform(
           |  sequence(0, int(greatest(ceil((size(tokens) - $width) / ${stride}.0D), 0))),
           |  i -> concat_ws(' ', slice(tokens, i * $stride + 1, $width)))"""
          .stripMargin)).as(Seq("chunk_idx", "chunk_text")))
    .withColumn("n_chunk_tokens", size(split(col("chunk_text"), " ")))
    .orderBy("doc_id", "chunk_idx")

  /** Feature-hashing text embeddings (the hashing trick): each token hashes
    * to one of `dims` buckets with a ±1 sign, signed counts are
    * L2-normalized — a real, trainable-model-free embedding that feeds the
    * ANN/dedup stack. Emitted long-form (doc_id, dim, weight) — the sparse
    * representation that joins/aggregates shuffle-efficiently at scale.
    * Hash = md5 prefixes, so the DuckDB twin computes the identical
    * embedding; norm is a sqrt of an integer sum and each weight one
    * division, so values are bit-exact across engines. Two shuffles
    * (signed-count groupBy, per-doc norm) regardless of corpus size. */
  def hashingEmbed(docs: DataFrame, dims: Int = 64): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("token"))
    val hashed = toks.select(col("doc_id"),
      (conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long") % dims)
        .cast("int").as("dim"),
      when(conv(substring(md5(col("token")), 9, 1), 16, 10).cast("long") % 2 === 0,
        lit(1)).otherwise(lit(-1)).as("sgn"))
    val counts = hashed.groupBy(col("doc_id"), col("dim"))
      .agg(sum(col("sgn")).as("v"))
    val norms = counts.groupBy(col("doc_id"))
      .agg(sqrt(sum(col("v") * col("v"))).as("nrm"))
    counts.join(norms, "doc_id")
      .select(col("doc_id"), col("dim"),
        round(col("v") / col("nrm"), 6).as("weight"))
      .orderBy("doc_id", "dim")
  }

  val queries: Map[String, Q] = Map(
    "x_embed_hashing" -> ((s, d) => hashingEmbed(documents(s, d))),
    "x_text_chunk" -> ((s, d) => chunk(documents(s, d))),
    "x_pipeline_corpus" -> ((s, d) => corpusPrep(documents(s, d))),
    "x_text_vocab" -> ((s, d) => buildVocab(documents(s, d))),
    "x_decontaminate" -> ((s, d) =>
      decontaminate(documents(s, d), col("doc_id") % 100 === 0)),
    "x_split_stable" -> ((s, d) => stableSplit(documents(s, d))),
    "x_sample_stratified" -> ((s, d) => stratifiedSample(documents(s, d))),
    "x_mix_rebalance" -> ((s, d) => mixtureRebalance(documents(s, d))),
    "x_mix_temperature" -> ((s, d) => mixTemperature(documents(s, d))),
    "x_pack_sequences" -> ((s, d) => packSequences(documents(s, d))),
    "x_bpe_pack" -> ((s, d) => bpePack(documents(s, d))),
    "x_pipeline_full" -> ((s, d) => ingestToPack(s, d))
  )

  /** The DuckDB twin composes the already-proven langid / quality / BPE
    * oracle fragments over the deduped corpus. */
  val oracle: Map[String, String] = Map(
    "x_embed_hashing" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(token), 1, 8))::BIGINT % 64 AS INT) AS dim,
        |    CASE WHEN ('0x' || substr(md5(token), 9, 1))::BIGINT % 2 = 0
        |      THEN 1 ELSE -1 END AS sgn
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |        FROM documents)
        |), c AS (
        |  SELECT doc_id, dim, CAST(sum(sgn) AS BIGINT) AS v
        |  FROM h GROUP BY doc_id, dim
        |), n AS (
        |  SELECT doc_id, sqrt(CAST(sum(v * v) AS DOUBLE)) AS nrm FROM c
        |  GROUP BY doc_id
        |)
        |SELECT c.doc_id AS doc_id, dim, round(v / nrm, 6) AS weight
        |FROM c JOIN n ON c.doc_id = n.doc_id
        |ORDER BY c.doc_id, dim""".stripMargin,
    "x_text_chunk" ->
      """WITH d AS (
        |  SELECT doc_id, toks,
        |    CAST(greatest(ceil((len(toks) - 32) / 16.0), 0) AS INT) AS lastc
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |), ex AS (
        |  SELECT doc_id,
        |    CAST(unnest(range(0, lastc + 1)) AS INT) AS chunk_idx,
        |    unnest([array_to_string(toks[i*16+1:i*16+32], ' ')
        |            for i in range(0, lastc + 1)]) AS chunk_text
        |  FROM d
        |)
        |SELECT doc_id, chunk_idx, chunk_text,
        |  CAST(len(string_split(chunk_text, ' ')) AS INT) AS n_chunk_tokens
        |FROM ex ORDER BY doc_id, chunk_idx""".stripMargin,
    "x_pipeline_corpus" ->
      s"""WITH dd AS (
         |  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text
         |), sc AS (
         |  SELECT doc_id, text, toks,
         |    CASE WHEN has_cjk THEN 'zh'
         |         WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'unknown'
         |         WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
         |         WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
         |         WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
         |         ELSE 'fr' END AS predicted_lang
         |  FROM (
         |    SELECT doc_id, text, toks,
         |      len(list_filter(toks, t -> t IN ('the','a','of','and','to'))) AS s_en,
         |      len(list_filter(toks, t -> t IN ('der','die','und','ist','das'))) AS s_de,
         |      len(list_filter(toks, t -> t IN ('el','la','que','de','los'))) AS s_es,
         |      len(list_filter(toks, t -> t IN ('le','la','les','et','est'))) AS s_fr,
         |      regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') AS has_cjk
         |    FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM dd))
         |), q AS (
         |  SELECT predicted_lang,
         |    len(toks) AS n_tok,
         |    len(list_filter(toks, t -> t IN ${TextAnalysis.stopList})) AS n_stop,
         |    len(list_distinct(toks)) AS n_uniq,
         |    len(regexp_extract_all(text, '${TextAnalysis.bpeRegex}')) AS n_bpe
         |  FROM sc
         |)
         |SELECT predicted_lang, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
         |  CAST(sum(n_uniq) AS DOUBLE) / CAST(sum(n_tok) AS DOUBLE)
         |    AS uniq_token_ratio
         |FROM q
         |WHERE n_tok >= $minTokens
         |  AND (predicted_lang <> 'en'
         |    OR CAST(n_stop AS DOUBLE) / n_tok >= $minStopRatio)
         |GROUP BY predicted_lang ORDER BY predicted_lang""".stripMargin,
    "x_text_vocab" ->
      """SELECT CAST(rk AS INT) AS token_id, token, cnt FROM (
        |  SELECT token, CAST(count(*) AS BIGINT) AS cnt,
        |    row_number() OVER (ORDER BY count(*) DESC, token) AS rk
        |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY token)
        |WHERE rk <= 500 ORDER BY token_id""".stripMargin,
    "x_decontaminate" ->
      """WITH sets AS (
        |  SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
        |    for i in range(1, greatest(len(toks) - 2, 1) + 1)]) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |), ev AS (
        |  SELECT DISTINCT unnest(sh) AS shingle FROM sets WHERE doc_id % 100 = 0
        |), tr AS (
        |  SELECT doc_id, unnest(sh) AS shingle FROM sets WHERE doc_id % 100 <> 0
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
        |FROM tr JOIN ev USING (shingle)
        |GROUP BY doc_id HAVING count(*) >= 3 ORDER BY doc_id""".stripMargin,
    "x_split_stable" ->
      """SELECT doc_id,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |    % 100 AS INT) AS bucket,
        |  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |    % 100 < 90 THEN 'train' ELSE 'val' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    // rates are IEEE-double arithmetic on both engines (explicit DOUBLE
    // casts keep DuckDB's DECIMAL literals out), buckets are md5 — the
    // two engines select the identical doc set
    "x_mix_rebalance" ->
      """WITH pool AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_pool
        |  FROM documents GROUP BY lang
        |), tgt AS (
        |  SELECT * FROM (VALUES
        |    ('en', CAST(0.30 AS DOUBLE)), ('de', CAST(0.20 AS DOUBLE)),
        |    ('es', CAST(0.20 AS DOUBLE)), ('fr', CAST(0.15 AS DOUBLE)),
        |    ('zh', CAST(0.15 AS DOUBLE))) t(lang, p)
        |), cap AS (
        |  SELECT lang, n_pool, p FROM pool JOIN tgt USING (lang)
        |), s AS (
        |  SELECT min(n_pool / p) AS s_total FROM cap
        |), rates AS (
        |  SELECT lang,
        |    CAST(floor(least(CAST(1 AS DOUBLE), p * s_total / n_pool)
        |      * 4294967296.0) AS BIGINT) AS thresh
        |  FROM cap CROSS JOIN s
        |)
        |SELECT doc_id, lang, thresh
        |FROM documents JOIN rates USING (lang)
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |  < thresh
        |ORDER BY doc_id""".stripMargin,
    "x_mix_temperature" ->
      """WITH c AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_rows
        |  FROM documents GROUP BY source
        |), t AS (
        |  SELECT sum(n_rows) AS total, sum(pow(n_rows, 0.5)) AS z FROM c
        |)
        |SELECT c.source, c.n_rows,
        |  round(c.n_rows / t.total, 6) AS p_raw,
        |  round(pow(c.n_rows, 0.5) / t.z, 6) AS p_temp,
        |  CAST(round(1000 * pow(c.n_rows, 0.5) / t.z) AS BIGINT) AS target_rows
        |FROM c CROSS JOIN t ORDER BY c.source""".stripMargin,
    "x_sample_stratified" ->
      """SELECT lang, CAST(rn AS INT) AS rn, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rn
        |  FROM documents)
        |WHERE rn <= 20 ORDER BY lang, rn""".stripMargin,
    // the trained-merge replace chain is inlined (Bpe.subtokenCountSql),
    // so DuckDB re-derives every word's TRAINED segmentation independently
    // — the oracle checks apply AND pack, end-to-end
    "x_bpe_pack" ->
      s"""WITH persub AS (
         |  SELECT doc_id, ${Bpe.subtokenCountSql("w")} AS n_sub
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |        FROM documents)
         |), perdoc AS (
         |  SELECT doc_id, CAST(count(*) AS INT) AS n_words,
         |    CAST(sum(n_sub) AS BIGINT) AS n_subtokens
         |  FROM persub GROUP BY doc_id
         |)
         |SELECT doc_id, n_words, n_subtokens, cum_sub,
         |  CAST(floor((cum_sub - n_subtokens) / 2048.0) AS BIGINT) AS bin
         |FROM (
         |  SELECT doc_id, n_words, n_subtokens,
         |    CAST(sum(n_subtokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_sub
         |  FROM perdoc)
         |ORDER BY doc_id""".stripMargin,
    // the five-stage flagship, recomputed from first principles: exact
    // batch×corpus Jaccard for the gate, exact all-pairs + recursive-CTE
    // closure for dedup (the x_dedup_apply oracle-equivalence argument),
    // shingle-join decontamination, md5 split, and the inlined trained-BPE
    // replace chain driving a global cumsum — one hash gates all five
    "x_pipeline_full" ->
      s"""WITH RECURSIVE sets0 AS (
         |  SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
         |    for i in range(1, greatest(len(toks) - 2, 1) + 1)]) AS shingles
         |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
         |), ex0 AS (
         |  SELECT doc_id, unnest(shingles) AS shingle, len(shingles) AS n_sh
         |  FROM sets0
         |), gatej AS (
         |  SELECT a.doc_id AS b_id,
         |    CAST(count(*) AS DOUBLE)
         |      / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)) AS j
         |  FROM ex0 a JOIN ex0 b ON a.shingle = b.shingle
         |    AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
         |  GROUP BY a.doc_id, b.doc_id
         |), ingested AS (
         |  SELECT doc_id FROM documents
         |  WHERE doc_id % 2 = 0
         |     OR doc_id NOT IN (SELECT b_id FROM gatej WHERE j >= 0.5)
         |), pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM ex0 a JOIN ex0 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  WHERE a.doc_id IN (SELECT doc_id FROM ingested)
         |    AND b.doc_id IN (SELECT doc_id FROM ingested)
         |  GROUP BY a.doc_id, b.doc_id
         |  HAVING CAST(count(*) AS DOUBLE)
         |    / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)) >= 0.5
         |), edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs
         |), r(id, rid) AS (
         |  SELECT doc_id, doc_id FROM ingested
         |  UNION
         |  SELECT r.id, e.b FROM r JOIN edges e ON r.rid = e.a
         |), cc AS (
         |  SELECT id AS doc_id, min(rid) AS cluster_id FROM r GROUP BY id
         |), contaminated AS (
         |  SELECT s.doc_id FROM ex0 s
         |  JOIN (SELECT DISTINCT shingle FROM ex0 WHERE doc_id % 100 = 0) ev
         |    USING (shingle)
         |  GROUP BY s.doc_id HAVING count(*) >= 3
         |), train AS (
         |  SELECT doc_id FROM cc
         |  WHERE doc_id = cluster_id
         |    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
         |    AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         |      % 100 < 90
         |), persub AS (
         |  SELECT doc_id, ${Bpe.subtokenCountSql("w")} AS n_sub
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |        FROM documents WHERE doc_id IN (SELECT doc_id FROM train))
         |), perdoc AS (
         |  SELECT doc_id, CAST(count(*) AS INT) AS n_words,
         |    CAST(sum(n_sub) AS BIGINT) AS n_subtokens
         |  FROM persub GROUP BY doc_id
         |)
         |SELECT doc_id, n_words, n_subtokens, cum_sub,
         |  CAST(floor((cum_sub - n_subtokens) / 2048.0) AS BIGINT) AS bin
         |FROM (
         |  SELECT doc_id, n_words, n_subtokens,
         |    CAST(sum(n_subtokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_sub
         |  FROM perdoc)
         |ORDER BY doc_id""".stripMargin,
    "x_pack_sequences" ->
      """SELECT doc_id, n_tok, cum_tok,
        |  CAST(floor((cum_tok - n_tok) / 2048.0) AS BIGINT) AS bin
        |FROM (
        |  SELECT doc_id, n_tok,
        |    CAST(sum(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tok
        |  FROM (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT)
        |          AS n_tok FROM documents))
        |ORDER BY doc_id""".stripMargin
  )
}
