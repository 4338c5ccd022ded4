package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.VectorFunctions.{cosineSim, minhashSignature, shingleSet, simhash64}

/** [EXT] Document deduplication for large-scale training-data pipelines.
  *
  * Five pairwise families (fully distributed, no UDFs — the per-row math is
  * Catalyst expressions, native where hot) plus connected-components
  * clustering (a co-partitioned RDD loop — the documented exception for
  * iterative graph algorithms):
  *
  *  - exact:   hash-groupBy on the raw text (one shuffle on the text hash);
  *  - minhash: 3-token shingles → 64-perm MinHash → banded LSH (b=16, r=4)
  *             → bucket self-join for candidates → exact-Jaccard verify;
  *  - simhash: 64-bit SimHash over tokens → 4×16-bit band join → Hamming
  *             verify via bit_count(xor);
  *  - ngram:   exact n-gram Jaccard via shingle inverted index (posexplode
  *             + self-join + group), the oracle-checkable ground truth the
  *             sketch variants approximate;
  *  - embed:   exact all-pairs cosine top-k as the oracle-anchored baseline
  *             + threshold-contract SRP-LSH ([[embedNearDupsLsh]]) as the
  *             sub-quadratic scale path.
  *
  * 100 TB notes: every join here keys on a sketch/band hash, so it shuffles
  * once on uniformly-distributed keys; candidate verification re-joins the
  * (small) candidate pair list back to shingle sets rather than carrying
  * shingle arrays through the LSH shuffle. Band-bucket skew (a degenerate
  * shingle shared by millions of docs) is bounded by `maxBucket`, dropping
  * pathological buckets exactly like production MinHash pipelines do.
  */
object Dedup {
  type Q = (SparkSession, String) => DataFrame

  private val maxBucket = 100 // drop degenerate LSH buckets bigger than this

  /** tokens + distinct 3-shingles for a documents DF (doc_id, text) via the
    * fused native [[org.apache.spark.sql.graft.ShingleSet]] expression (the
    * equivalent array_distinct∘transform∘slice HOF chain is interpreted and
    * was the hottest step of every shingle-based pipeline here). */
  private def withShingles(df: DataFrame): DataFrame = df
    .withColumn("tokens", split(col("text"), " "))
    .withColumn("shingles", shingleSet(col("tokens")))

  /** 64-perm MinHash signature via the native fused-loop expression
    * (o.a.s.sql.graft.MinHashSignature — the HOF formulation paid ~1µs of
    * interpreted dispatch per (shingle, perm)). */
  private def withMinhash(df: DataFrame): DataFrame = df
    .withColumn("sig", minhashSignature(col("shingles")))

  /** Drop rows of degenerate LSH buckets (> maxBucket members) via a
    * hash-aggregate of bucket sizes re-joined to the banded rows — NOT a
    * count-over-window. The 10× A/B at THIS site measured the two forms
    * within noise of each other (ordering flipped across heap configs —
    * ROUND5_NOTES §5), so the choice is structural: the window form
    * shuffles every banded row BY THE BUCKET KEY — the very key whose
    * degenerate skew this prune removes — putting the pathological bucket
    * on one task before it can be pruned, while the aggregate absorbs the
    * hot key in map-side partial aggregation and the broadcast re-join
    * never repartitions the banded rows. Skew-immunity at the scale the
    * prune exists for, at a noise-level constant cost. */
  private def pruneBuckets(banded: DataFrame, keys: Seq[String]): DataFrame = {
    val keyCols = keys.map(col)
    // broadcast the DEGENERATE set, not the keep set: almost every
    // bucket survives the filter, so the keep set is corpus-scale
    // (~bands per doc) and broadcasting it would OOM the driver at the
    // billion-doc scale this prune exists for — while the degenerate
    // set is the handful of pathological keys (each must exceed
    // maxBucket members, so there are at most |banded|/maxBucket, and
    // in practice a few). The anti-join keeps the load-bearing
    // property: the banded rows are never repartitioned by the skewed
    // bucket key.
    val degenerate = banded.groupBy(keyCols: _*)
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
      .select(keyCols: _*)
    banded.join(broadcast(degenerate), keys, "left_anti")
  }

  /** The cached signature frames for ONE corpus, with an owner: a
    * long-lived serving session sweeping many corpora scopes each in a
    * handle and [[CorpusHandle.close]]s it when done, releasing the
    * cached (doc_id, sig) / (doc_id, simhash) frames. The module-level
    * [[minhashNearDups]]/[[simhashNearDups]] functions (the registered
    * query surface) open an unclosed handle — session-lifetime caching,
    * deduped across re-runs by the cache manager, which is exactly the
    * bench contract. NOTE the cache manager keys entries by canonical
    * plan, so two handles over the SAME corpus share storage — closing
    * either drops the shared entry (the other recomputes, correctly). */
  final class CorpusHandle private[Dedup] (docs: DataFrame) {
    // The expensive per-doc work (shingles + 64-perm signature) is cached
    // ONCE as (doc_id, sig) — bounded at 16 ints/doc. The banded explode +
    // bucket prune downstream are cheap projections over the cache, so the
    // bucket-size aggregate and both self-join sides recompute them
    // without touching the signature math (the agg/broadcast subtrees
    // dedupe at runtime via ReuseExchange). cache() only MARKS the plan —
    // nothing materializes until a pair-finder runs — so declaring both
    // frames eagerly here costs nothing if only one family is used.
    private[graft] val minhashSigs: DataFrame = cacheOnce(
      withMinhash(withShingles(docs))
        .select(col("doc_id"), col("sig")))
    private[graft] val simhashSigs: DataFrame = cacheOnce(docs
      .withColumn("tokens", split(col("text"), " "))
      .select(col("doc_id"),
        graft.functions.VectorFunctions.md5Simhash60(col("tokens"))
          .as("simhash")))

    // a handle over a corpus plan the session already caches (the
    // module-level functions open one per call) reuses that entry: a
    // repeat cache() is a no-op apart from a CacheManager WARN per frame
    private def cacheOnce(df: DataFrame): DataFrame =
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        df.cache()
      else df

    /** Candidate near-dup pairs from banded LSH over the MinHash signature. */
    private def lshCandidates: DataFrame = {
      val banded = minhashSigs.select(col("doc_id"), minhashBandCols)
      val pruned = pruneBuckets(banded, Seq("band_idx", "band_hash"))
      pruned.as("a")
        .join(pruned.as("b"),
          col("a.band_idx") === col("b.band_idx")
            && col("a.band_hash") === col("b.band_hash")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
    }

    /** Exact-Jaccard-verified minhash pair set WITHOUT the presentation
      * sort/round — the edge-source form: downstream consumers (connected
      * components, dedup-apply) convert to RDDs or re-aggregate, so a
      * total order here would buy nothing and cost a full sort shuffle. */
    def minhashPairs(threshold: Double = 0.5): DataFrame =
      verifyJaccard(lshCandidates, docs)
        .filter(col("jaccard") >= threshold)

    /** MinHash+LSH near-dup pairs, exact-Jaccard verified at `threshold`. */
    def minhashNearDups(threshold: Double = 0.5): DataFrame =
      minhashPairs(threshold)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")

    /** SimHash near-dup pairs: 60-bit md5 signature, 4×15-bit bands,
      * Hamming <= maxHamming (see [[Dedup.simhashNearDups]]). */
    def simhashNearDups(maxHamming: Int = 8): DataFrame = {
      val banded = pruneBuckets(
        simhashSigs.select(col("doc_id"), col("simhash"),
          posexplode(expr(
            """transform(sequence(0, 3),
              |  b -> shiftright(simhash, b * 15) & 32767)""".stripMargin))
            .as(Seq("band_idx", "band_val"))),
        Seq("band_idx", "band_val"))
      banded.as("a")
        .join(banded.as("b"),
          col("a.band_idx") === col("b.band_idx")
            && col("a.band_val") === col("b.band_val")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
        .distinct()
        .filter(col("hamming") <= maxHamming)
        .orderBy("doc_a", "doc_b")
    }

    /** Release both signature caches (async — blocks free as executors
      * get to them). Frames built from this handle remain valid; they
      * recompute signatures on next use instead of reading cache. */
    def close(): Unit = {
      minhashSigs.unpersist(blocking = false)
      simhashSigs.unpersist(blocking = false)
    }
  }

  /** Open a signature-cache handle over a (doc_id, text) corpus frame. */
  def openCorpus(docs: DataFrame): CorpusHandle = new CorpusHandle(docs)

  /** b=16/r=4 banded LSH keys over a `sig` column (shared by the batch
    * self-join pair-finder and the ingest-gate index below — one band
    * definition, so their candidate semantics cannot drift apart). */
  private def minhashBandCols =
    posexplode(expr(
      "transform(sequence(0, 15), b -> hash(slice(sig, b * 4 + 1, 4)))"))
      .as(Seq("band_idx", "band_hash"))

  /** Pre-built LSH index of an EXISTING corpus for ingest-time gating:
    * `bands` is 16 lean (band_idx, band_hash, corpus_id) rows per corpus
    * doc — no payloads — and `shingleSets` holds the shingle arrays keyed
    * by corpus_id, touched only for band-matched candidates. At 100 TB
    * the bands table is what a serving cluster keeps bucketed/partitioned
    * by band key so per-batch probes prune to matching buckets. */
  final case class IngestIndex private[Dedup] (
      bands: DataFrame, shingleSets: DataFrame) {
    /** Release the index caches (no-op on a [[IngestIndex.load]]ed index,
      * whose frames are disk-backed table scans, not cached plans). */
    def close(): Unit = {
      bands.unpersist(blocking = false)
      shingleSets.unpersist(blocking = false)
    }

    /** Persist this index as two bucketed EXTERNAL tables under `path` —
      * the durable form of the scaladoc's "table a cluster keeps bucketed
      * by band key": `<name>_bands` bucketed by the probe join key
      * (band_idx, band_hash) and `<name>_sets` bucketed by corpus_id (the
      * verify join key). A later session [[IngestIndex.load]]s them and
      * gates batches with NO recompute of corpus signatures — the 100 TB
      * restart story, where re-minhashing the corpus is the cost being
      * avoided. Bucketing makes index-side joins co-located: a probe
      * repartitioned to the band buckets joins without shuffling the
      * corpus-sized index. */
    def save(name: String, path: String, buckets: Int = 16): Unit = {
      graft.sources.Layout.writeBucketedExternal(bands,
        s"${name}_bands", s"$path/bands", buckets, Seq("band_idx", "band_hash"))
      graft.sources.Layout.writeBucketedExternal(shingleSets,
        s"${name}_sets", s"$path/sets", buckets, Seq("corpus_id"))
      // the bucket count is part of the physical layout; persist it so
      // load never trusts a caller to repeat the save-time value (a
      // mismatched declaration would silently mis-route bucket-pruned
      // probes on the restored tables)
      val spark = bands.sparkSession
      import spark.implicits._
      Seq(buckets).toDF("buckets")
        .repartition(1).write.mode("overwrite").parquet(s"$path/meta")
    }
  }

  object IngestIndex {
    /** Re-open an index persisted by [[IngestIndex.save]]: pure bucketed
      * table scans — no signature math anywhere in the loaded plans.
      * Path-addressed: when the session's catalog lacks the entries (a
      * restart without a persistent metastore — the default), the tables
      * are re-registered from the parquet under `path` with the writer's
      * bucket spec, read back from the saved meta — the caller never
      * repeats (and so can never contradict) the save-time bucket
      * count. */
    def load(spark: SparkSession, name: String, path: String): IngestIndex = {
      val buckets = spark.read.parquet(s"$path/meta").collect().head.getInt(0)
      graft.sources.Layout.registerBucketedExternal(spark,
        s"${name}_bands", s"$path/bands", buckets, Seq("band_idx", "band_hash"))
      graft.sources.Layout.registerBucketedExternal(spark,
        s"${name}_sets", s"$path/sets", buckets, Seq("corpus_id"))
      IngestIndex(spark.table(s"${name}_bands"), spark.table(s"${name}_sets"))
    }

    /** Incremental growth of a saved gate index: band-hash and shingle
      * the ADMITTED docs (the same signature definitions the builder
      * uses, so gate semantics cannot drift) and append them to the two
      * bucketed tables. This is what turns the gate from "static corpus
      * snapshot" into a living admission index: survivors of one batch
      * are part of the corpus the NEXT batch is gated against. No
      * recompute of existing signatures; only the batch is signed.
      * Caller owns doc_id uniqueness (the gate itself guarantees a
      * survivor is no near-dup of anything already indexed). */
    def append(spark: SparkSession, name: String, path: String,
        admitted: DataFrame): Unit = {
      val buckets = spark.read.parquet(s"$path/meta").collect().head.getInt(0)
      graft.sources.Layout.registerBucketedExternal(spark,
        s"${name}_bands", s"$path/bands", buckets, Seq("band_idx", "band_hash"))
      graft.sources.Layout.registerBucketedExternal(spark,
        s"${name}_sets", s"$path/sets", buckets, Seq("corpus_id"))
      // ONE shingle pass feeds both projections: the two appends are
      // separate actions, so without materialization the hottest step
      // (shingling) would run twice per batch — eagerly checkpoint the
      // batch-scale shingled frame and derive both sides from blocks
      val shingled = withShingles(admitted)
        .select(col("doc_id").as("corpus_id"), col("shingles"))
        .localCheckpoint(true)
      val bands = shingled
        .withColumn("sig", minhashSignature(col("shingles")))
        .select(col("corpus_id"), minhashBandCols)
        .select(col("band_idx"), col("band_hash"), col("corpus_id"))
      val sets = shingled
        .select(col("corpus_id"),
          col("shingles").as("c_shingles"), size(col("shingles")).as("c_n"))
      graft.sources.Layout.appendBucketedExternal(bands,
        s"${name}_bands", buckets, Seq("band_idx", "band_hash"))
      graft.sources.Layout.appendBucketedExternal(sets,
        s"${name}_sets", buckets, Seq("corpus_id"))
      // drop any stale file listings so the very next probe sees the batch
      spark.catalog.refreshTable(s"${name}_bands")
      spark.catalog.refreshTable(s"${name}_sets")
    }
  }

  /** Build the ingest-gate index over a (doc_id, text) corpus. */
  def buildIngestIndex(corpus: DataFrame): IngestIndex = {
    // sets caches the shingle arrays; bands DERIVES from that cache, so
    // the corpus-scale shingle pass runs once however the two frames
    // materialize (the old shape shingled the corpus twice, once per
    // cache fill)
    val sets = withShingles(corpus)
      .select(col("doc_id").as("corpus_id"),
        col("shingles").as("c_shingles"), size(col("shingles")).as("c_n"))
      .cache()
    val bands = sets
      .withColumn("sig", minhashSignature(col("c_shingles")))
      .select(col("corpus_id"), minhashBandCols)
      .select(col("band_idx"), col("band_hash"), col("corpus_id"))
      .cache()
    IngestIndex(bands, sets)
  }

  /** Ingest-time near-dup gate — the stream-static complement of the
    * batch pair-finders: incoming docs are DROPPED when they near-
    * duplicate the existing corpus (a re-crawl, a mirrored page, a
    * boilerplate clone), the standard admission check before anything
    * enters a training corpus. Band-matched candidates are exact-Jaccard
    * verified against only those corpus docs' shingle sets before the
    * gate drops anything (the batch family's verify-then-act contract);
    * duplicate band matches produce duplicate candidate rows that the
    * final anti join absorbs, so no distinct() appears. Emits the
    * SURVIVORS (docs admitted into the corpus).
    *
    * This is a BATCH function: the survivors anti join keys on a frame
    * derived from `newDocs` itself, which on a streaming frame would be a
    * stream-stream anti join (unsupported). Streaming ingest applies it
    * per micro-batch via [[ingestGateStream]] — inside foreachBatch every
    * micro-batch is a batch frame, the index side stays cached, and the
    * per-batch plan is this one unchanged. */
  def nearDupIngestGate(newDocs: DataFrame, index: IngestIndex,
      threshold: Double = 0.5): DataFrame = {
    // the banded PROBE is payload-free — (doc_id, band) rows only, the
    // header's shuffle discipline: carrying the batch's shingle arrays
    // through the 16-way explode and the corpus-sized band join (then
    // AGAIN through the corpus_id join) shuffles every array 16+ times;
    // instead the lean candidate pair list re-joins the batch's shingle
    // sets (batch-scale, by doc_id) and the index's (candidate-scale,
    // by corpus_id) — the verifyJaccard pattern. The batch side's
    // shingle expression evaluates twice (bands + sets), which is the
    // right trade: it is batch-local fused-native compute vs shuffled
    // array bytes.
    val banded = withMinhash(withShingles(newDocs))
      .select(col("doc_id"), minhashBandCols)
    val cand = banded
      .join(index.bands, Seq("band_idx", "band_hash"))
      .select(col("doc_id"), col("corpus_id"))
      .distinct() // several band matches = one verification, not several
    val batchSets = withShingles(newDocs)
      .select(col("doc_id"), col("shingles"), size(col("shingles")).as("n_sh"))
    val matched = cand
      .join(batchSets, Seq("doc_id"))
      .join(index.shingleSets, Seq("corpus_id"))
      .withColumn("inter",
        size(array_intersect(col("shingles"), col("c_shingles"))))
      .filter(col("inter").cast("double")
        / (col("n_sh") + col("c_n") - col("inter")) >= threshold)
      .select(col("doc_id"))
    // matched is DUPLICATE-scale (near-dups of the corpus within the
    // batch) — broadcast it explicitly like x_dedup_apply's dropped set:
    // Catalyst's size estimate for the band-join subplan is corpus-sized,
    // so without the hint the anti-join falls back to shuffling the batch
    newDocs.join(broadcast(matched), Seq("doc_id"), "left_anti")
  }

  /** Streaming ingest: run [[nearDupIngestGate]] over each micro-batch of
    * a docs stream (foreachBatch — the standard shape for per-batch logic
    * a streaming plan cannot express) and hand survivors to `admit`. */
  def ingestGateStream(newDocs: DataFrame, index: IngestIndex,
      checkpoint: String, threshold: Double = 0.5)(
      admit: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    newDocs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        admit(nearDupIngestGate(batch.toDF(), index, threshold))
      }
      .start()

  /** Self-GROWING streaming ingest gate over a saved disk-backed index:
    * each micro-batch is gated against the index as of the previous
    * batch, its survivors are handed to `admit`, and then APPENDED to
    * the index — so a later batch re-crawling a doc that only ever
    * existed ON THE STREAM is dropped, which the static-index
    * [[ingestGateStream]] structurally cannot do. This is the crawler
    * admission loop: the corpus is what the gate has admitted so far.
    *
    * Ordering contract inside a batch: decisions MATERIALIZE (persist +
    * count) against the pre-batch index before anything is appended —
    * otherwise the plan would re-probe the grown table and drop the
    * batch's own docs as self-duplicates. `admit` must consume the
    * survivors within the callback (after it returns, the handle is
    * unpersisted and would recompute against the grown index).
    * Intra-batch duplicates are upstream's job (run the batch dedup
    * family first); checkpointing makes completed batches non-replayed,
    * and a replayed partial batch re-gates against an index that may
    * already hold its survivors — they drop as verbatim dups, so the
    * loop is idempotent at the doc level. */
  def ingestGateStreamGrowing(newDocs: DataFrame, name: String,
      path: String, checkpoint: String, threshold: Double = 0.5)(
      admit: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    newDocs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val index = IngestIndex.load(spark, name, path)
        // eager localCheckpoint, NOT persist: cached blocks are
        // best-effort — an executor loss during the append phase would
        // RECOMPUTE survivors against the partially-grown index (the
        // batch's own docs band-match themselves and vanish), leaving
        // bands rows whose sets rows never land. Checkpointed blocks
        // are the decision, immutably, against the pre-append state.
        val survivors =
          nearDupIngestGate(batch.toDF(), index, threshold)
            .localCheckpoint(true)
        admit(survivors)
        IngestIndex.append(spark, name, path,
          survivors.select(col("doc_id"), col("text")))
      }
      .start()

  /** Edge-source minhash pairs with session-lifetime signature caching
    * (see [[CorpusHandle]] for the owned-cache variant). */
  private[graft] def minhashPairs(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    new CorpusHandle(docs).minhashPairs(threshold)

  /** MinHash+LSH near-dup pairs over an arbitrary (doc_id, text) frame,
    * exact-Jaccard verified at `threshold` (the x_dedup_minhash surface,
    * exposed for the stress harness); session-lifetime signature caching. */
  def minhashNearDups(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    new CorpusHandle(docs).minhashNearDups(threshold)

  /** Exact Jaccard for a pair list, re-joined to shingle sets.
    *
    * r17: the verify is CANDIDATE-scale end to end. The pair list is
    * materialized once (duplicate-scale — the bound every broadcast in
    * this module rides): it feeds both the candidate-id semi-join below
    * and the verify probe, and without materialization each consumer
    * would re-run the candidate generator (the banded self-join /
    * prefix filter — the containment-apply recompute disease, r16).
    * The corpus is then pre-filtered by a broadcast semi-join on the
    * candidate ids BEFORE the shingle projection, so the shingle
    * RE-compute (and whatever join materialization follows) covers only
    * docs that appear in some candidate pair — before, BOTH verify join
    * sides recomputed shingles for the ENTIRE corpus (guide §2.3:
    * decide with small rows, compute heavy payloads only where needed;
    * measured at sf0.1: the two corpus-wide shingle builds were the two
    * top jobs of every minhash-family entry, ~0.9 s of 1.2 s). Results
    * are identical: the verify joins are inner on doc_a/doc_b, which
    * can only ever match candidate ids. */
  private def verifyJaccard(pairs0: DataFrame, docs: DataFrame): DataFrame = {
    val pairs = pairs0.localCheckpoint(true)
    val candIds = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
      .distinct()
    // Materialized (candidate-scale) for two reasons: the frame is
    // referenced by BOTH verify join sides (one corpus scan, one shingle
    // pass — not one per side), and the caller's `jaccard >= t` filter
    // otherwise infers an isnotnull(size(shingle_set(text))) constraint
    // that Catalyst pushes below the semi-join into the parquet scan's
    // filter — a full-corpus shingle evaluation per side, exactly the
    // work the semi-join exists to avoid. The checkpoint is a constraint
    // boundary: inferred filters land on these candidate-scale rows.
    val sets = withShingles(
        docs.join(broadcast(candIds), Seq("doc_id"), "left_semi"))
      .select(col("doc_id"), col("shingles"), size(col("shingles")).as("n_sh"))
      .localCheckpoint(true)
    pairs
      .join(sets.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"),
        col("n_sh").as("n_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"),
        col("n_sh").as("n_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double")
          / (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
  }

  /** Naive exact n-gram Jaccard: full shingle inverted index + pair count.
    * Quadratic in posting-list length on hot shingles — fine at bench SF
    * with the default `maxPosting = Int.MaxValue` (the registered exact
    * contract, what the DuckDB oracle computes).
    *
    * `maxPosting` is the [[maxBucket]] analog for the inverted index: any
    * shingle whose posting list exceeds it is dropped from the index
    * BEFORE the self-join, bounding per-shingle join work at
    * O(maxPosting²) exactly as production similarity-join pipelines do.
    * Dropping a shingle can only LOSE candidate pairs (never corrupt a
    * score): with a cap the join becomes a candidate generator, candidates
    * are cut to near the true pair set INSIDE the aggregation by a sound
    * Jaccard upper bound (shared shingles outside the kept index are hot
    * in both docs, so inter <= inter_kept + min(hot_a, hot_b), and J is
    * increasing in inter), and survivors are exact-Jaccard re-verified
    * over FULL shingle sets ([[verifyJaccard]]) — emitted pairs are a
    * subset of the exact result with exact scores. Pairs are missed only
    * when ALL their shared shingles are hot, which near-dup pairs
    * (sharing half their shingles) essentially never are. Measured at the
    * 10× dup-heavy stress: see ROUND6_NOTES (recall recorded per cap). */
  def ngramJaccardNaive(s: SparkSession, docs: DataFrame,
      threshold: Double = 0.5, maxPosting: Int = Int.MaxValue): DataFrame = {
    val sets = withShingles(docs.repartition(s.sparkContext.defaultParallelism))
      .select(col("doc_id"), explode(col("shingles")).as("shingle"),
        size(col("shingles")).as("n_sh"))
    if (maxPosting == Int.MaxValue) {
      // exact single-pass shape: intersection counted inside the join
      sets.as("a")
        .join(sets.as("b"),
          col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
        .agg(count(lit(1)).as("inter"))
        .select(col("doc_a"), col("doc_b"),
          (col("inter").cast("double")
            / (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
        .filter(col("jaccard") >= threshold)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    } else {
      // capped shape: broadcast the (tiny) HOT shingle set and anti-join it
      // away — the skew-safe direction; broadcasting the keep-set would ship
      // nearly the whole vocabulary.
      //
      // The candidate stage keeps the EXACT branch's count-inside-
      // aggregation shape: a first cut ("distinct candidate pairs, then
      // re-verify each") measured 20-25x SLOWER than exact at the 10×
      // dup-heavy stress — 113M distinct candidate pairs materialized and
      // array_intersect-verified to yield 250k true pairs. Junk pairs
      // sharing one rare shingle dominate any candidate list; they must
      // die in the aggregation, not in a per-candidate verify join.
      //
      // Per-pair we aggregate the KEPT-shingle intersection, then filter
      // on a sound Jaccard UPPER bound before the exact re-verify:
      // any shared shingle outside the kept index is hot in BOTH docs, so
      //   inter_true <= inter_kept + min(hot_a, hot_b),
      // and J = inter/(n_a+n_b-inter) is increasing in inter. Pairs are
      // missed only when ALL their shared shingles are hot (same recall
      // contract as the posting-cap itself); survivors get exact scores.
      val hot = sets.groupBy(col("shingle"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") > maxPosting)
        .select(col("shingle"))
      // UNCUT-CAP RUNTIME BRANCH (r17, VERDICT r16 item 4): when NO
      // posting list exceeds the cap, the capped path is PROVABLY
      // result-identical to the exact single-pass shape (the uncut-cap
      // identity ExtSpec pins): nothing is pruned, every n_kept == n_sh,
      // the upper-bound filter degenerates to the exact Jaccard test,
      // and the re-verify confirms what the aggregation already computed.
      // The exact shape is strictly cheaper — it skips the hot anti-join,
      // the corpus-token-scale doc_id join that rides n_kept along, and
      // the re-verify joins (measured at sf0.1: 3.4 s capped vs 2.0 s
      // exact for byte-identical output). One driver probe (is the hot
      // set empty? — a single partial-aggregated pass) picks the branch
      // SOUNDLY at any input: a corpus with genuinely hot shingles takes
      // the full capped machinery below, paying one extra probe pass —
      // noise against the pruning it is about to do. (A row-count switch
      // was considered and rejected: doc count does not bound posting
      // length, so it could silently change what a small adversarial
      // corpus computes. The probe cannot.)
      if (hot.isEmpty)
        return ngramJaccardNaive(s, docs, threshold)
      val prunedBare = sets.join(broadcast(hot), Seq("shingle"), "left_anti")
      // n_kept rides the exploded rows into the self-join (one doc_id-keyed
      // shuffle join of two linear frames — NOT a broadcast: one-row-per-doc
      // frames are corpus-sized at scale), so the upper-bound filter below
      // needs no join against the (candidate-pair-sized) aggregate.
      val kept = prunedBare.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"))
      val pruned = prunedBare.join(kept, "doc_id")
      val interUb = col("inter_kept") +
        least(col("n_a") - col("n_kept_a"), col("n_b") - col("n_kept_b"))
      val cand = pruned.as("a")
        .join(pruned.as("b"),
          col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"),
          col("a.n_kept").as("n_kept_a"), col("b.n_kept").as("n_kept_b"))
        .agg(count(lit(1)).as("inter_kept"))
        .filter(interUb.cast("double")
          / (col("n_a") + col("n_b") - interUb) >= threshold)
        .select(col("doc_a"), col("doc_b"))
      verifyJaccard(cand, docs)
        .filter(col("jaccard") >= threshold)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }
  }

  /** Asymmetric shingle-CONTAINMENT near-dup pairs: C(a⊆b) = |A∩B|/|A|.
    * The directional complement to [[ngramJaccardNaive]]: a short doc
    * embedded verbatim in a long one (quotes, boilerplate headers, page
    * templates around real content) has J ≈ |A|/|B| — arbitrarily small —
    * but containment ≈ 1, so a Jaccard gate never sees it. Emits BOTH
    * directions when each side covers the other (doc_a is the contained
    * side by construction).
    *
    * Same single-pass scale shape as the exact Jaccard path: intersection
    * counted INSIDE the shingle self-join's aggregation (candidates die
    * map-side; nothing materializes per-pair), one shingle-keyed shuffle,
    * denominator riding the exploded rows. The posting-cap defense for
    * hot shingles composes exactly as in the capped Jaccard variant if a
    * corpus needs it. */
  def ngramContainment(s: SparkSession, docs: DataFrame,
      threshold: Double = 0.8): DataFrame = {
    val sets = withShingles(docs.repartition(s.sparkContext.defaultParallelism))
      .select(col("doc_id"), explode(col("shingles")).as("shingle"),
        size(col("shingles")).as("n_sh"))
    sets.as("a")
      .join(sets.as("b"),
        col("a.shingle") === col("b.shingle")
          && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_sh").as("n_a"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("containment", col("inter").cast("double") / col("n_a"))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("containment"), 6).as("containment"))
      .orderBy("doc_a", "doc_b")
  }

  /** Apply [[ngramContainment]] as a dedup: drop the CONTAINED side.
    * Asymmetric pairs (a quote/boilerplate doc inside a larger one) drop
    * the contained doc and keep the container; MUTUAL pairs (each side
    * covers the other — near-verbatim replicas) keep the min-id member
    * as canonical, the same survivor convention as the cluster-based
    * x_dedup_apply. Deterministic rule: drop a iff some b contains it
    * and (b does not mutually contain a, or b < a).
    *
    * Scale shape: the pair frames are duplicate-scale (tiny vs the
    * corpus); intersect/except run on 2-column id frames; the corpus is
    * touched once by a broadcast anti-join of the dropped set — the
    * corpus never shuffles, exactly as in x_dedup_apply. */
  def containmentDedupApply(s: SparkSession, docs: DataFrame,
      threshold: Double = 0.8): DataFrame = {
    // Materialize the pair set ONCE (r16 optimization, guide §2.4): the
    // survivor derivation references `pairs` from FOUR subtrees (pairs,
    // rev, intersect, except), and Spark's exchange reuse does not
    // collapse set-operation branches — the before plan re-ran the
    // corpus-scale shingle self-join aggregate per branch (64 Exchanges,
    // 6 SortMergeJoins; measured 3.2 s at bench SF vs 1.7 s for one
    // containment pass). The pair frame is DUPLICATE-scale (tiny at any
    // corpus size — the same bound the broadcast below already relies
    // on), so an eager localCheckpoint pays the heavy pass once and the
    // set ops run over the materialized rows; ContextCleaner frees the
    // blocks when the plan is dropped (the connectedComponents residency
    // pattern). Results are byte-identical: same pairs, same survivor
    // rule.
    val pairs = ngramContainment(s, docs, threshold)
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint(true)
    val rev = pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))
    // Set ops over the materialized pair frame as broadcast semi/anti
    // joins rather than intersect/except (r17): `pairs` is
    // duplicate-free by construction (one row per (doc_a, doc_b) group
    // key, both non-null), so intersect ≡ left-semi and except(mutual)
    // ≡ left-anti against the reversed frame — identical rows, but each
    // set op planned a two-sided shuffle + dedup aggregate of the tiny
    // frame (24 Exchange mentions at gate SF, pure per-stage fixed
    // cost); the broadcast form keeps only the final distinct's.
    val mutual = pairs.join(broadcast(rev), Seq("doc_a", "doc_b"), "left_semi")
    val dropped = pairs.join(broadcast(rev), Seq("doc_a", "doc_b"), "left_anti")
      .select(col("doc_a"))
      .union(mutual.filter(col("doc_a") > col("doc_b")).select(col("doc_a")))
      .distinct()
      .withColumnRenamed("doc_a", "doc_id")
    docs.join(broadcast(dropped), Seq("doc_id"), "left_anti")
  }

  /** PPJoin-style exact n-gram Jaccard for 100 TB inputs: shingles get a
    * rare-first global order (doc-freq asc, then shingle), each doc indexes
    * only its first floor(n/2)+1 prefix shingles — the prefix-filtering
    * principle (Chaudhuri et al., SSJoin) guarantees any pair with J >= 0.5
    * shares a prefix shingle — plus the 2x size filter. Hot shingles sort
    * to the END of the canonical order and drop out of prefixes, so posting
    * lists stay short instead of exploding quadratically on common n-grams.
    * Result set is EXACTLY [[ngramJaccardNaive]]'s (asserted in ExtSpec);
    * costs a few more stages, so it wins only when posting lists are long. */
  def ngramJaccardPrefixFiltered(s: SparkSession, docs: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    require(threshold == 0.5, "prefix length formula below is specialized to t=0.5")
    val sets = withShingles(docs.repartition(s.sparkContext.defaultParallelism))
      .select(col("doc_id"), col("shingles"), size(col("shingles")).as("n_sh"))
    val posts = sets.select(col("doc_id"), col("n_sh"),
      explode(col("shingles")).as("shingle"))
    // doc frequency via hash-aggregate + join, NOT a count-over-window:
    // a window partitioned by shingle must SORT the full posting set inside
    // each partition, and that sort costs more than the second posting
    // shuffle the join formulation pays (measured 1.7x slower at the 10x
    // stress scale — see ROUND4_NOTES)
    val freq = posts.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val prefix = posts
      .join(freq, "shingle")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("df"), col("shingle"))))
      .filter(col("rk") <= floor(col("n_sh") / 2) + 1)
      .select(col("doc_id"), col("n_sh"), col("shingle"))
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.shingle") === col("b.shingle")
          && col("a.doc_id") < col("b.doc_id")
          && col("a.n_sh") <= col("b.n_sh") * 2
          && col("b.n_sh") <= col("a.n_sh") * 2)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(cand, docs)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** SUBSTRING-level dedup, stage 1: cross-document repeated w-token
    * windows — the span-granular family the whole-document ones
    * (exact/minhash/simhash/ngram/embed) can't express: boilerplate
    * headers, license blocks, templated paragraphs repeat across
    * otherwise-distinct documents, and LLM training pipelines drop the
    * SPAN, not the document (the suffix-array dedup of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better",
    * re-expressed Spark-first: sliding fixed-width windows replace
    * suffix-array LCP runs — w bounds the detectable span granularity,
    * merged back to maximal spans in [[substringDedupApply]]'s coverage
    * semantics).
    *
    * Shape at 100 TB: one explode (~n_tokens rows/doc, window text
    * payload w tokens), ONE shuffle — a hash-agg on window_text with
    * map-side combine, no join anywhere; corpus-hot windows are the
    * SIGNAL here (a count aggregation absorbs skew that would break a
    * self-join — the exact lesson of the ngram cap above), and the
    * top-k is a TakeOrdered, not a global sort. */
  def repeatedWindows(s: SparkSession, docs: DataFrame, w: Int = 8,
      minDocs: Int = 2, topK: Int = 100): DataFrame = {
    docs
      .select(col("doc_id"), split(col("text"), " ").as("tokens"))
      .filter(size(col("tokens")) >= w)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(tokens) - $w), " +
          s"i -> array_join(slice(tokens, i + 1, $w), ' '))")).as("window_text"))
      .groupBy(col("window_text"))
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occur"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_occur").desc, col("window_text"))
      .limit(topK)
  }

  /** SUBSTRING-level dedup, stage 2: drop every token covered by any
    * banned window occurrence (adjacent/overlapping windows merge into
    * maximal spans for free — coverage is per-token). `banned` is the
    * [[repeatedWindows]] output: BOUNDED by construction (topK), so the
    * broadcast is legitimate — unlike per-doc frames, which are
    * corpus-sized. Two linear shuffles (per-doc start-set agg, doc_id
    * re-join); the token filter is a codegen'd HOF, no UDF. */
  def substringDedupApply(docs: DataFrame, banned: DataFrame, w: Int = 8): DataFrame = {
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("tokens"))
    val starts = toks
      .filter(size(col("tokens")) >= w)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(tokens) - $w), " +
          s"i -> array_join(slice(tokens, i + 1, $w), ' '))"))
        .as(Seq("start", "window_text")))
      .join(broadcast(banned.select(col("window_text"))), "window_text")
      .groupBy(col("doc_id"))
      .agg(collect_set(col("start")).as("starts"))
    toks.join(starts, Seq("doc_id"), "left")
      .withColumn("starts",
        coalesce(col("starts"), expr("CAST(array() AS array<int>)")))
      .select(col("doc_id"), array_join(expr(
        s"filter(tokens, (t, p) -> NOT exists(starts, s -> p >= s AND p < s + $w))"),
        " ").as("text"))
  }

  /** SimHash near-dup pairs over an arbitrary (doc_id, text) frame:
    * 60-bit signature, 4×15-bit bands, Hamming <= 8. The per-token hash is
    * the top 60 bits of md5 (engine-portable — the DuckDB oracle replicates
    * the whole pipeline bit-for-bit), computed by the fused native
    * [[org.apache.spark.sql.graft.Md5SimHash60]] expression: one pass per
    * document, no token explode, no 60-aggregate shuffle. The faster
    * XXH64-based simhash64() remains available for engine-internal use. */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 8): DataFrame =
    new CorpusHandle(docs).simhashNearDups(maxHamming)

  /** Embedding near-dup pairs under a THRESHOLD contract (`cosine >=
    * minCosine`) via banded random-hyperplane LSH — the sub-quadratic scale
    * path for embedding dedup. The registered `x_dedup_embed` query keeps
    * the global-top-k-pairs contract as the oracle-anchored exact baseline,
    * but that contract is inherently all-pairs (closest-pair has no
    * practical exact sub-quadratic algorithm at d=64), and production
    * near-dup dedup is threshold-based anyway — this is that operator.
    *
    * Design: `bands` independent `bits`-bit SRP signatures per vector via
    * the fused native [[org.apache.spark.sql.graft.SrpSignature]]
    * expression (one pass over the vector for all bands×bits planes; the
    * literal-plane formulation planted up to 448 CosineSimilarity calls
    * into one projection and its compile time dominated); a pair is a
    * candidate iff it collides in >= 1 band; candidates are exact-cosine
    * verified. The banded frame carries only (vec_id, band, bucket) —
    * embeddings re-join for the verify step, so the LSH shuffle never
    * moves the vector payload (the [[verifyJaccard]] pattern). Collision
    * probability per band is (1 - θ/π)^bits, so recall at cosine c is
    * 1-(1-(1-acos(c)/π)^bits)^bands: bands=16 × bits=8 gives ~0.9999 at
    * c=0.95 and ~0.97 at c=0.85 — tune per corpus (more bits ⇒ smaller
    * buckets ⇒ fewer candidates, more bands to recover recall); ExtSpec
    * asserts EXACT equality vs the brute-force pair set on a planted
    * near-dup fixture at the default parameters. */
  def embedNearDupsLsh(emb: DataFrame, minCosine: Double = 0.85,
      bands: Int = 16, bits: Int = 8, dim: Int = 64): DataFrame = {
    // the same degenerate-bucket defense as the minhash/simhash paths:
    // near-identical or dominant-direction embeddings can put millions
    // of vectors into one (band, bucket) cell in EVERY band, making the
    // self-join O(n²) on a single task — pruneBuckets drops such cells
    // before any pair materializes (a >maxBucket cell's members are by
    // definition mutually near under this hash; they surface through
    // the other bands or the exact path, exactly the minhash trade)
    val banded = pruneBuckets(
      emb.select(col("vec_id"),
        posexplode(graft.functions.VectorFunctions.srpSignature(
          col("embedding"), bands, bits, dim)).as(Seq("band", "bucket"))),
      Seq("band", "bucket"))
    val pairs = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct() // a pair may collide in several bands
    val vecs = emb.select(col("vec_id"), col("embedding"))
    pairs
      .join(vecs.select(col("vec_id").as("id_a"), col("embedding").as("v_a")), "id_a")
      .join(vecs.select(col("vec_id").as("id_b"), col("embedding").as("v_b")), "id_b")
      .withColumn("cosine", cosineSim(col("v_a"), col("v_b")))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy("id_a", "id_b")
  }

  /** Connected components over near-dup pairs — the clustering step every
    * production dedup pipeline runs after pairwise similarity: a component
    * is a duplicate cluster, its min doc_id the canonical survivor.
    *
    * Iterative min-label propagation (the join-based CC used at scale when
    * a graph engine is overkill): each round, every vertex takes the min
    * label among itself and its neighbors; converges in O(component
    * diameter) rounds — near-dup clusters are shallow (pairs/triangles), so
    * 1-3 rounds in practice. Each round costs one frontier-sized message
    * shuffle plus one narrow pass over the co-partitioned label map.
    *
    * The iteration runs ONLY over edge-touched vertices: after near-dup
    * detection the overwhelming majority of a corpus is singletons (no
    * incident edge), and a singleton's label never changes — so propagating
    * over them every round would shuffle the whole vertex set per round for
    * nothing. Singletons rejoin as `cluster_id = doc_id` in one final
    * union. Within the loop, messages flow only FROM the previous round's
    * frontier (vertices whose label just decreased — Pregel active-set
    * semantics), so per-round shuffled bytes track the shrinking frontier's
    * incident edges: round 1 costs O(E), later rounds only the still-live
    * components — the difference between O(rounds·E) and O(E + Σ frontier
    * edges) at 100 TB graph sizes (StressGraph measures this directly).
    *
    * Unpersist must target the exact cached plan, so a handle to each
    * round's cached frame is kept and released at the start of the next
    * round (unpersisting a projection of it is a no-op). The FINAL labels
    * leave the function as an eager localCheckpoint, not a cache: the loop
    * cache is released before returning, and the checkpointed blocks are
    * reference-tracked by Spark's ContextCleaner, so they are freed when
    * the caller drops the returned frame — no cache outlives its consumer,
    * and repeated invocations cannot collide on a shared canonical-plan
    * cache entry (each checkpoint is a distinct LogicalRDD).
    * Deterministic: min over Long. */
  def connectedComponents(edges: DataFrame, vertices: DataFrame): DataFrame = {
    val finalLabels = edgeComponentLabels(edges)
    // singletons (no incident edge) cluster as themselves, outside the
    // loop. The label side is EDGE-TOUCHED vertices only — duplicate-
    // scale for the near-dup graphs this module builds (the same bound
    // x_dedup_apply's dropped-set broadcast rides) — so broadcast it:
    // the checkpointed label frame has no size stats and the planner
    // otherwise falls back to a sort-merge anti-join that shuffles +
    // sorts the CORPUS-scale vertex side (r17; one Exchange removed
    // from every cluster/split entry). A caller clustering a generic
    // graph whose edge-touched set is itself corpus-scale should use
    // edgeComponentLabels* directly and do its own singleton handling.
    val singletons = vertices.select(col("doc_id"))
      .join(broadcast(finalLabels.select(col("doc_id"))),
        Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
    finalLabels.union(singletons)
  }

  /** [[connectedComponents]] with the O(log V)-round star labeler
    * ([[edgeComponentLabelsStar]]) in place of the O(diameter) frontier
    * loop; identical contract and singleton handling. */
  def connectedComponentsStar(edges: DataFrame, vertices: DataFrame): DataFrame = {
    val finalLabels = edgeComponentLabelsStar(edges)
    // same duplicate-scale broadcast argument as [[connectedComponents]]
    val singletons = vertices.select(col("doc_id"))
      .join(broadcast(finalLabels.select(col("doc_id"))),
        Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
    finalLabels.union(singletons)
  }

  /** The label map for EDGE-TOUCHED vertices only — (doc_id, cluster_id =
    * min reachable doc_id), no singleton union. This is the frame dedup
    * APPLICATION wants directly: the dropped (non-canonical) ids are
    * `doc_id =!= cluster_id` rows of THIS frame, a set sized like the
    * duplicate count — filtering the [[connectedComponents]] union instead
    * would drag the corpus-sized singleton anti-join into a plan whose
    * answer can't contain a singleton. */
  def edgeComponentLabels(edges: DataFrame): DataFrame = {
    // Iterative min-label propagation is the documented RDD exception: a
    // DataFrame loop re-analyzes, re-codegens, and re-plans a fresh
    // 4-join/2-agg plan every round (measured ~6s of pure per-round plan +
    // codegen + exchange-planning overhead on a 256-edge graph), while an
    // RDD loop with ONE HashPartitioner keeps edges and labels
    // co-partitioned for the whole loop — GraphX's design. The label-lookup
    // join is then narrow, each round pays exactly ONE shuffle (the
    // neighbor-min reduceByKey), and convergence detection rides a
    // LongAccumulator inside the materializing action instead of a separate
    // count() job. Semantics are identical to the DataFrame form: labels =
    // min doc_id reachable, monotonically decreasing per round.
    val spark = edges.sparkSession
    val sc = spark.sparkContext
    val part = new org.apache.spark.HashPartitioner(sc.defaultParallelism)
    // (dst, src) keyed by the label-lookup side; both directions from ONE
    // pass over the (expensive) edge lineage. partitionBy is the loop's
    // only edge shuffle; the cache holds post-partitioning blocks.
    val byDst = edges.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .partitionBy(part).cache()
    // Seed label of v is v itself. byDst is already hash-partitioned by
    // vertex, so reduceByKey with the same partitioner is a narrow local
    // combine — no shuffle.
    var labels = byDst.mapPartitions(
        _.map { case (v, _) => (v, v) }, preservesPartitioning = true)
      .reduceByKey(part, math.min(_: Long, _: Long)).cache()
    labels.foreach(_ => ()) // materialize edges + seeds in one job
    // Pregel-style active set: labels only ever DECREASE, so a new min can
    // only arrive through a neighbor whose label dropped last round. Each
    // round therefore sends messages only FROM the previous round's
    // frontier — per-round shuffle volume tracks the (shrinking) frontier,
    // not the whole graph. Round 1's frontier is every vertex announcing
    // its own id, exactly the plain min-propagation first round, and the
    // fixed point (min reachable id) is unchanged.
    var frontier = labels
    var prevCached: org.apache.spark.rdd.RDD[_] = labels
    var changed = 1L
    while (changed > 0) {
      val acc = sc.longAccumulator("cc_frontier")
      // THE round's only shuffle: frontier labels re-keyed by edge source.
      val updates = byDst.join(frontier) // narrow: co-partitioned on `part`
        .map { case (_, (src, lbl)) => (src, lbl) }
        .reduceByKey(part, math.min(_: Long, _: Long))
      // ONE full pass over the label map per round (GraphX's vertex-RDD
      // rewrite has the same O(V) term): carry (old, new) so both the new
      // label map and the next frontier are cheap projections of this one
      // cached frame. MEMORY_AND_DISK: an evicted MEMORY_ONLY block would
      // recompute through the whole loop's lineage — measured as 10-70 s
      // stalls on a 1M-vertex graph before the fix.
      val joint = labels.leftOuterJoin(updates) // narrow
        .mapValues { case (old, cand) =>
          val nu = cand.fold(old)(c => math.min(old, c))
          if (nu < old) acc.add(1L)
          (old, nu)
        }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      joint.foreach(_ => ()) // one action per round; fills acc
      // Accumulator semantics: at-least-once on task retry, so `changed`
      // can only over-count — worst case one extra no-op round, never a
      // wrong answer; it cannot under-count and stop early.
      changed = acc.value
      // blocking: async unpersist lags behind the loop and stacks dead
      // 1M-row object caches -> long GC stalls (measured 10-70 s rounds)
      prevCached.unpersist(blocking = true)
      prevCached = joint
      // projections keep keys in place → partitioner survives. Lineage
      // grows by one narrow join per round over the CACHED joint, so the
      // worst-case recompute is one level deep; a periodic reliable
      // checkpoint would cap even that for adversarial diameters (measured
      // here: a localCheckpoint cadence pinned extra 1M-row block copies
      // and cost more than it saved at diameter <= 16).
      labels = joint.mapValues(_._2)
      frontier = joint.mapPartitions(_.flatMap { case (v, (old, nu)) =>
        if (nu < old) Some((v, nu)) else None
      }, preservesPartitioning = true)
    }
    byDst.unpersist(blocking = false)
    // Labels are (Long, Long) pairs for edge-touched vertices only — tiny
    // next to the corpus; hand them back to SQL for the singleton union.
    val finalLabels = spark.createDataFrame(
      labels.map { case (v, c) => org.apache.spark.sql.Row(v, c) },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cluster_id",
          org.apache.spark.sql.types.LongType, nullable = false))))
      .localCheckpoint(true)
    prevCached.unpersist(blocking = false) // labels is a projection of it
    finalLabels
  }

  /** Connected components by alternating large-star / small-star rounds —
    * the public MapReduce CC algorithm (Kiveris et al., "Connected
    * Components in MapReduce and Beyond") that converges in O(log V)
    * rounds INDEPENDENT of component diameter, vs the O(diameter) rounds
    * of [[edgeComponentLabels]]'s frontier loop. Same contract: labels
    * for edge-touched vertices only, cluster_id = component min.
    *
    * When to use which: near-dup graphs are shallow (pairs/triangles/
    * cliques), so the frontier loop converges in 2-3 rounds and its
    * per-round cost tracks the SHRINKING frontier — it wins there and
    * stays the registered path. An adversarial-diameter graph (long
    * chains of chained near-dups, entity-resolution paths) makes the
    * frontier loop pay one round per hop; the star rounds collapse such
    * chains geometrically (StressGraph: a 2^14-vertex path converges in
    * ~8 rounds, where the frontier loop would need 16384).
    *
    * Round shape: each star op is ONE groupByKey on the loop-long
    * HashPartitioner plus a distinct; convergence = the edge multiset is
    * a fixpoint (star graphs reproduce themselves under both ops),
    * checked with a co-partitioned (narrow) subtract + counts. Caches
    * rotate with blocking unpersist exactly like the frontier loop.
    * Caveat: the reduce sees a component's full neighborhood at its
    * center (inherent to the algorithm — the paper's reducers do too),
    * so the star center of a 10M-doc duplicate cluster is one fat task;
    * fine for the cluster sizes dedup produces, and the frontier loop
    * remains for graphs where that worries you. */
  def edgeComponentLabelsStar(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val sc = spark.sparkContext
    val part = new org.apache.spark.HashPartitioner(sc.defaultParallelism)

    // Distinct (k, v) pairs PARTITIONED BY KEY in one shuffle (r17,
    // VERDICT r16 item 7): the r16 round body paid `.distinct()` (a
    // shuffle keyed by the PAIR) and then `.partitionBy(part)` (a second
    // shuffle re-keying by the vertex) — per-key set aggregation on
    // `part` dedups and key-partitions at once, and flatMapValues
    // preserves the partitioner. Per-key sets are neighborhood-bounded,
    // the memory shape the algorithm's reducers already have.
    def dedupByKey(es: org.apache.spark.rdd.RDD[(Long, Long)])
        : org.apache.spark.rdd.RDD[(Long, Long)] = es
      .aggregateByKey(scala.collection.mutable.HashSet.empty[Long], part)(
        (s, v) => { s += v; s }, (a, b) => { a ++= b; a })
      .flatMapValues(identity)

    // large-star: group BOTH directions by u; m = min(N(u) ∪ {u});
    // emit (v, m) for strictly-larger neighbors v. Larger-than-center
    // leaves re-point at the current local min; never emits self-edges
    // (v > u >= m). Star graphs are fixpoints. The neighbor multiset is
    // set-aggregated in the shuffle (dup directions collapse map-side);
    // output duplicates across centers flow into small-star's set
    // aggregation unharmed — the r16 `.distinct()` here was a whole
    // extra pair-keyed shuffle per round buying nothing.
    def largeStar(es: org.apache.spark.rdd.RDD[(Long, Long)]) = es
      .flatMap { case (u, v) => Iterator((u, v), (v, u)) }
      .aggregateByKey(scala.collection.mutable.HashSet.empty[Long], part)(
        (s, v) => { s += v; s }, (a, b) => { a ++= b; a })
      .flatMap { case (u, nbrs) =>
        var m = u
        nbrs.foreach(v => if (v < m) m = v)
        val mm = m
        nbrs.iterator.filter(_ > u).map(v => (v, mm))
      }

    // small-star: direct every edge large→small, set-aggregate by the
    // large end (absorbing large-star's duplicate output); m = min
    // neighbor (all neighbors < u here); re-point u and every non-min
    // neighbor at m. Cross-center duplicate output is collapsed by the
    // caller's dedupByKey — ONE pair dedup per round instead of r16's
    // two distincts + a partitionBy (5 shuffles → 3 per round).
    def smallStar(es: org.apache.spark.rdd.RDD[(Long, Long)]) = es
      .map { case (u, v) => if (u > v) (u, v) else (v, u) }
      .aggregateByKey(scala.collection.mutable.HashSet.empty[Long], part)(
        (s, v) => { s += v; s }, (a, b) => { a ++= b; a })
      .flatMap { case (u, nbrs) =>
        var m = u
        nbrs.foreach(v => if (v < m) m = v)
        val mm = m
        (nbrs.iterator ++ Iterator(u)).filter(_ != mm).map(v => (v, mm))
      }

    var cur = dedupByKey(
      edges.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
        .rdd.map(r => (r.getLong(0), r.getLong(1)))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => if (a > b) (a, b) else (b, a) })
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var converged = false
    while (!converged) {
      val next = dedupByKey(smallStar(largeStar(cur)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // convergence = SET equality (star sets are fixpoints of both ops),
      // checked as an exact signed symmetric difference: both sides are
      // distinct, so every pair nets to 0 iff the sets are equal. ONE job
      // (which also materializes `next` into its persist) replaces r16's
      // next.count() + next.subtract(cur).count() pair — and unlike an
      // accumulator count it is exact under task retries.
      val grew = next.map(e => (e, 1)).union(cur.map(e => (e, -1)))
        .reduceByKey(_ + _).filter(_._2 != 0).count()
      converged = grew == 0L
      cur.unpersist(blocking = true)
      cur = next
    }
    // fixpoint = per-component stars (v, root): labels are the star edges
    // plus each root labeling itself
    val labels = cur
      .flatMap { case (v, r) => Iterator((v, r), (r, r)) }
      .distinct()
    val out = spark.createDataFrame(
      labels.map { case (v, c) => org.apache.spark.sql.Row(v, c) },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cluster_id",
          org.apache.spark.sql.types.LongType, nullable = false))))
      .localCheckpoint(true)
    cur.unpersist(blocking = false)
    out
  }

  val queries: Map[String, Q] = Map(
    // Exact dedup: canonical doc per distinct text (hash-groupBy, one shuffle).
    "x_dedup_exact" -> ((s, d) => documents(s, d)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_cnt"))
      .select(col("keep_id"), col("dup_cnt"), length(col("text")).as("n_chars"))
      .orderBy("keep_id")),

    // MinHash+LSH near-dup pairs, exact-Jaccard verified at >= 0.5.
    "x_dedup_minhash" -> ((s, d) => minhashNearDups(
      documents(s, d).select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism))), // 1 parquet file otherwise

    // SimHash near-dup pairs: 60-bit signature, 4x15-bit bands, Hamming <= 8.
    "x_dedup_simhash" -> ((s, d) => simhashNearDups(
      documents(s, d).repartition(s.sparkContext.defaultParallelism))),

    // Exact n-gram Jaccard >= 0.5. The benched entry uses the naive full
    // inverted index (fewest stages — fastest at bench SF, and what the
    // DuckDB oracle runs); [[ngramJaccardPrefixFiltered]] is the
    // PPJoin-style scale path, proven result-identical in ExtSpec.
    "x_dedup_ngram" -> ((s, d) => ngramJaccardNaive(s,
      documents(s, d).select(col("doc_id"), col("text")))),

    // Asymmetric containment pairs (C(a⊆b) >= 0.8): the quote/boilerplate
    // case a symmetric Jaccard gate misses.
    "x_dedup_containment" -> ((s, d) => ngramContainment(s,
      documents(s, d).select(col("doc_id"), col("text")))),

    // Containment applied as a dedup: contained docs drop, containers
    // survive, mutual (near-verbatim) pairs keep the min id.
    "x_dedup_containment_apply" -> ((s, d) =>
      containmentDedupApply(s, documents(s, d)
        .select(col("doc_id"), col("text"), col("n_chars")))
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")),

    // Dedup clustering: connected components over near-dup pairs; every
    // document gets a cluster_id (= min doc_id reachable), singletons
    // cluster as themselves. The edge source is the banded-LSH MinHash
    // pair-finder — the sub-quadratic sketch path a 100 TB pipeline runs —
    // NOT the exact inverted index: the two pair sets are provably (exact
    // re-verify ⊆) and measurably (recall 1.0, asserted in ExtSpec)
    // identical at J >= 0.5, so the recursive-CTE oracle, which computes
    // closure over the exact pair set, binds unchanged while the query
    // stops paying the quadratic hot-shingle join.
    "x_dedup_cluster" -> ((s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism)
      val edges = minhashPairs(docs).select(col("doc_a"), col("doc_b"))
      connectedComponents(edges, docs.select(col("doc_id")))
        .orderBy("doc_id")
    }),

    // Same clustering contract through the large-star/small-star labeler:
    // O(log V) rounds independent of component diameter (vs the frontier
    // loop's O(diameter)). Both run against the SAME recursive-CTE oracle —
    // the two labelers are algorithm-independent implementations of one
    // spec, and the oracle binds them both.
    "x_dedup_cluster_star" -> ((s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism)
      val edges = minhashPairs(docs).select(col("doc_a"), col("doc_b"))
      connectedComponentsStar(edges, docs.select(col("doc_id")))
        .orderBy("doc_id")
    }),

    // APPLYING the dedup — the step every pipeline actually runs: keep one
    // canonical survivor (min doc_id) per near-dup cluster, drop the rest.
    // Composes pair-finding (minhash sketch — same oracle-equivalence
    // argument as x_dedup_cluster) → clustering → anti-selection. The
    // corpus-side join broadcasts the DROPPED (non-canonical) id set —
    // sized like the duplicate count, tiny at any scale — and anti-joins
    // it against the corpus scan: the corpus never shuffles, and unlike a
    // survivor-set semi-join the broadcast payload is not corpus-sized
    // (survivors ≈ the whole corpus once singletons dominate).
    "x_dedup_apply" -> ((s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism)
      val edges = minhashPairs(docs).select(col("doc_a"), col("doc_b"))
      val dropped = edgeComponentLabels(edges)
        .filter(col("doc_id") =!= col("cluster_id")) // non-canonical = dup
        .select(col("doc_id"))
      documents(s, d).join(broadcast(dropped), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // Leakage-free train/val split: Pipeline.stableSplit's md5-bucket
    // assignment keyed by the near-dup CLUSTER canonical id instead of the
    // doc id, so every member of a near-dup cluster lands on the same side.
    // A doc-keyed split puts a document's near-twin in the other split
    // with probability 2·p·(1-p) — train/eval contamination that survives
    // n-gram decontamination (the twin is a NEAR duplicate). Composes the
    // minhash pair-finder (same oracle-equivalence argument as
    // x_dedup_cluster) → CC clustering → a pure md5 projection; the cost
    // over stableSplit is exactly the clustering it reuses, and the
    // projection adds zero shuffles.
    "x_split_leakfree" -> ((s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism)
      val edges = minhashPairs(docs).select(col("doc_a"), col("doc_b"))
      connectedComponents(edges, docs.select(col("doc_id")))
        // the ONE split-bucket definition (Pipeline.md5Bucket), keyed by
        // the cluster canonical so near-dups land on the same side
        .withColumn("bucket", Pipeline.md5Bucket(col("cluster_id")))
        .withColumn("split", when(col("bucket") < 90, "train").otherwise("val"))
        .orderBy("doc_id")
    }),

    // The CAPPED ngram path under the hash gate: cap=64 exceeds every
    // posting length at the gate SFs (max df: 7 at sf0.01, 25 at sf0.1),
    // so the result is provably identical to the exact query (uncut-cap
    // identity, ExtSpec) and the exact oracle binds — while the full
    // capped code shape (hot-set anti-join, n_kept ride-along, upper-bound
    // filter, exact re-verify) runs under the strongest gate. Pruning
    // semantics at tight caps are ExtSpec- and stress-covered (recall
    // table in ROUND6_NOTES §4).
    "x_dedup_ngram_capped" -> ((s, d) =>
      ngramJaccardNaive(s, documents(s, d).select(col("doc_id"), col("text")),
        maxPosting = 64)),

    // Substring-level dedup stats: top cross-document repeated 8-token
    // windows (span-granular — the families above are whole-document).
    "x_dedup_substring" -> ((s, d) =>
      repeatedWindows(s, documents(s, d).select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism))),

    // Embedding near-dup: top-20 most-similar pairs by exact cosine.
    // Brute force — the oracle-anchored baseline; the sub-quadratic scale
    // path with the production (threshold) contract is [[embedNearDupsLsh]],
    // asserted exact-equal on a planted fixture in ExtSpec.
    "x_dedup_embed" -> ((s, d) => {
      val e = embeddings(s, d).repartition(s.sparkContext.defaultParallelism)
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("v_b"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("cosine", cosineSim(col("v_a"), col("v_b")))
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("id_a"), col("id_b"))
        .limit(20)
    })
  )

  /** Exact n-gram Jaccard in DuckDB — the ground truth for `x_dedup_ngram`
    * AND for `x_dedup_minhash`: banded 64-perm MinHash at b=16/r=4 has
    * collision probability 1-(1-j^4)^16 — 0.644 at j=0.5, 0.891 at 0.6,
    * 0.981 at 0.684 (near-certain collision at j=0.5 takes b=32/r=2:
    * 0.9999). Every emitted pair is exact-Jaccard re-verified, so the LSH
    * path provably emits a subset of the ground truth. It emits all of it
    * on the gate test data (recall 1.0, asserted in ExtSpec) only because
    * every oracle pair there has j ≥ 0.88, where a pair's miss chance is
    * below 1e-5 (2.2e-4 at j=0.8); pairs near the 0.5 threshold are
    * missed about a third of the time. */
  private val ngramJaccardSql: String =
      """WITH sets AS (
        |  SELECT doc_id, list_distinct(ngrams) AS shingles
        |  FROM (
        |    SELECT doc_id,
        |      [array_to_string(toks[i:i+2], ' ')
        |       for i in range(1, greatest(len(toks) - 2, 1) + 1)] AS ngrams
        |    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
        |), ex AS (
        |  SELECT doc_id, unnest(shingles) AS shingle, len(shingles) AS n_sh
        |  FROM sets
        |)
        |SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(count(*) AS DOUBLE)
        |      / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)) AS jaccard
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin

  /** DuckDB twin of the md5-simhash pipeline above, bit-for-bit: same
    * 60-bit per-token hash (hex-prefix cast), same ±1 bit-majority sums,
    * same banding, bucket cap, and Hamming verify. The 60 aggregate
    * columns are generated, not hand-written. */
  private val simhashSql: String = {
    val bitSums = (0 until 60).map(b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
      .mkString(", ")
    val sig = (0 until 60).map(b => s"(CAST(s$b > 0 AS BIGINT) << $b)")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
       |), hs AS (
       |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
       |), sb AS (
       |  SELECT doc_id, $bitSums FROM hs GROUP BY doc_id
       |), sigs AS (
       |  SELECT doc_id, $sig AS simhash FROM sb
       |), banded AS (
       |  SELECT doc_id, simhash, band_idx,
       |    (simhash >> (band_idx * 15)) & 32767 AS band_val
       |  FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS band_idx)
       |), pruned AS (
       |  SELECT * FROM (
       |    SELECT doc_id, simhash, band_idx, band_val,
       |      count(*) OVER (PARTITION BY band_idx, band_val) AS bucket_n
       |    FROM banded)
       |  WHERE bucket_n <= $maxBucket
       |)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |FROM pruned a JOIN pruned b
       |  ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |    AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // Transitive closure via recursive CTE (DuckDB's native way to express
  // what both Spark labelers — frontier loop and star rounds — compute).
  private val clusterSql: String =
    s"""WITH RECURSIVE pairs AS ($ngramJaccardSql),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs
       |),
       |r(id, rid) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.id, e.b FROM r JOIN edges e ON r.rid = e.a
       |)
       |SELECT id AS doc_id, CAST(min(rid) AS BIGINT) AS cluster_id
       |FROM r GROUP BY id ORDER BY doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "x_dedup_simhash" -> simhashSql,
    "x_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS dup_cnt,
        |  CAST(length(text) AS INT) AS n_chars
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    "x_dedup_ngram" -> ngramJaccardSql,
    "x_dedup_containment" ->
      """WITH sets AS (
        |  SELECT doc_id, list_distinct(ngrams) AS shingles
        |  FROM (
        |    SELECT doc_id,
        |      [array_to_string(toks[i:i+2], ' ')
        |       for i in range(1, greatest(len(toks) - 2, 1) + 1)] AS ngrams
        |    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
        |), ex AS (
        |  SELECT doc_id, unnest(shingles) AS shingle, len(shingles) AS n_sh
        |  FROM sets
        |)
        |SELECT doc_a, doc_b, round(containment, 6) AS containment FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(count(*) AS DOUBLE) / any_value(a.n_sh) AS containment
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |WHERE containment >= 0.8 ORDER BY doc_a, doc_b""".stripMargin,
    "x_dedup_containment_apply" ->
      """WITH sets AS (
        |  SELECT doc_id, list_distinct(ngrams) AS shingles
        |  FROM (
        |    SELECT doc_id,
        |      [array_to_string(toks[i:i+2], ' ')
        |       for i in range(1, greatest(len(toks) - 2, 1) + 1)] AS ngrams
        |    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
        |), ex AS (
        |  SELECT doc_id, unnest(shingles) AS shingle, len(shingles) AS n_sh
        |  FROM sets
        |), pairs AS (
        |  SELECT doc_a, doc_b FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      CAST(count(*) AS DOUBLE) / any_value(a.n_sh) AS containment
        |    FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        |    GROUP BY a.doc_id, b.doc_id)
        |  WHERE containment >= 0.8
        |), mutual AS (
        |  SELECT p.doc_a, p.doc_b FROM pairs p
        |  JOIN pairs q ON p.doc_a = q.doc_b AND p.doc_b = q.doc_a
        |), dropped AS (
        |  SELECT doc_a FROM pairs p
        |  WHERE NOT EXISTS (SELECT 1 FROM mutual m
        |                    WHERE m.doc_a = p.doc_a AND m.doc_b = p.doc_b)
        |  UNION
        |  SELECT doc_a FROM mutual WHERE doc_a > doc_b
        |)
        |SELECT doc_id, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT doc_a FROM dropped)
        |ORDER BY doc_id""".stripMargin,
    "x_dedup_ngram_capped" -> ngramJaccardSql, // uncut-identity regime at gate SFs
    "x_dedup_minhash" -> ngramJaccardSql,
    // Transitive closure via recursive CTE (DuckDB's native way to express
    // what the Spark side computes with iterative min-label propagation).
    "x_dedup_apply" ->
      s"""WITH RECURSIVE pairs AS ($ngramJaccardSql),
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs
         |),
         |r(id, rid) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.id, e.b FROM r JOIN edges e ON r.rid = e.a
         |),
         |cc AS (SELECT id AS doc_id, min(rid) AS cluster_id FROM r GROUP BY id)
         |SELECT d.doc_id, d.n_chars
         |FROM documents d JOIN cc ON d.doc_id = cc.doc_id
         |WHERE cc.doc_id = cc.cluster_id
         |ORDER BY d.doc_id""".stripMargin,
    "x_dedup_cluster" -> clusterSql,
    // same spec, star labeler: one oracle binds both implementations
    "x_dedup_cluster_star" -> clusterSql,
    // cluster closure (same recursive CTE) + the stableSplit md5 bucket
    // keyed by the cluster canonical id
    "x_split_leakfree" ->
      s"""WITH RECURSIVE pairs AS ($ngramJaccardSql),
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs
         |),
         |r(id, rid) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.id, e.b FROM r JOIN edges e ON r.rid = e.a
         |),
         |cc AS (
         |  SELECT id AS doc_id, CAST(min(rid) AS BIGINT) AS cluster_id
         |  FROM r GROUP BY id
         |)
         |SELECT doc_id, cluster_id,
         |  CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT
         |    % 100 AS INT) AS bucket,
         |  CASE WHEN ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT
         |    % 100 < 90 THEN 'train' ELSE 'val' END AS split
         |FROM cc ORDER BY doc_id""".stripMargin,
    // sliding w-token windows via list_slice over 1-based start positions;
    // range() is end-exclusive, so starts run 1 .. len-w+1
    "x_dedup_substring" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |w AS (
        |  SELECT doc_id, array_to_string(list_slice(toks, i, i + 7), ' ') AS window_text
        |  FROM t, UNNEST(range(1, len(toks) - 8 + 2)) AS u(i)
        |  WHERE len(toks) >= 8
        |)
        |SELECT window_text, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_occur
        |FROM w GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY n_occur DESC, window_text LIMIT 100""".stripMargin,
    // Mirrors the native CosineSimilarity accumulation exactly (see the
    // x_ann_bruteforce oracle note in Similarity.scala); the Spark side
    // rounds BEFORE ordering, so the oracle orders by the rounded value too.
    "x_dedup_embed" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |pr AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(range(1, len(a.embedding) + 1),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding,
        |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(b.embedding,
        |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cosine
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |)
        |SELECT * FROM (SELECT id_a, id_b, round(cosine, 6) AS cosine FROM pr)
        |ORDER BY cosine DESC, id_a, id_b LIMIT 20""".stripMargin
  )
}
