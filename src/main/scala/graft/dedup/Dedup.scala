package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TextOps, VectorOps}

/** Deduplication family for LLM training-data curation (SURVEY.md §2
  * rows 20-24). Shared shape: compute a per-doc key/signature
  * (map-only), shuffle once on the key (or LSH band) to find candidate
  * groups, resolve each doc to its smallest-id duplicate. At 100 TB the
  * only shuffled payload is (key, doc_id) pairs — never the text.
  */
object Dedup {

  /** Exact dedup on normalized text. Returns `doc_id, group_size,
    * dup_of` where dup_of is the smallest doc_id sharing the text (null
    * for group representatives).
    *
    * The shuffle key is the FULL 128-bit md5 digest of the normalized
    * text (16-byte binary), NOT the text itself — the exchanged payload
    * is (digest, doc_id) pairs, never the corpus. Distinct texts
    * colliding at 128 bits is a non-event for non-adversarial corpora
    * (birthday bound ~2⁻⁶⁴ across 10¹² docs); a corpus that may contain
    * ADVERSARIAL md5 collision pairs should use [[exactVerified]],
    * which compares the texts themselves.
    *
    * Hot-key shape: group stats (count, min) come from a partial-agg
    * groupBy + join back, not a window over the digest — a
    * 10⁹-duplicate page (real web-crawl case) would otherwise put the
    * whole group in one unsplittable WindowExec partition. The groupBy
    * collapses the hot digest map-side to one partial row per task,
    * and the join-back exchange is AQE-skew-splittable.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keyed = docs
      .select(col(idCol), unhex(md5(TextOps.normalize(col(textCol)))).as("__k"))
    val groups = keyed.groupBy(col("__k"))
      .agg(count(lit(1)).as("group_size"), min(col(idCol)).as("__min_id"))
      .withColumnRenamed("__k", "__gk")
    keyed.join(groups, col("__k") <=> col("__gk"))
      .withColumn("dup_of", when(col("__min_id") < col(idCol), col("__min_id")))
      .select(idCol, "group_size", "dup_of")
  }

  /** Collision-proof exact dedup: the duplicate verdict compares the
    * normalized TEXTS, not a hash. The digest still leads the partition
    * key (so the shuffle hashes 16 fixed bytes and text comparison only
    * happens between same-digest rows), but the text rides along in the
    * exchange — this is the price of by-construction exactness; prefer
    * [[exact]] unless the corpus may contain engineered md5 collisions.
    */
  def exactVerified(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keyed = docs
      .select(col(idCol), TextOps.normalize(col(textCol)).as("__t"))
      .withColumn("__k", unhex(md5(col("__t"))))
    val groups = keyed.groupBy(col("__k"), col("__t"))
      .agg(count(lit(1)).as("group_size"), min(col(idCol)).as("__min_id"))
      .withColumnRenamed("__k", "__gk").withColumnRenamed("__t", "__gt")
    keyed.join(groups,
        col("__k") <=> col("__gk") && col("__t") <=> col("__gt"))
      .withColumn("dup_of", when(col("__min_id") < col(idCol), col("__min_id")))
      .select(idCol, "group_size", "dup_of")
  }

  /** MinHash signature frame: doc_id, mh0..mh{k-1} (null when the doc
    * has fewer tokens than the shingle size).
    */
  def minhashSignatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int,
      params: Seq[(Long, Long)]): DataFrame = {
    // ONE kernel pass builds shingle strings and their 60-bit hashes
    // straight from digest bytes (no intermediate shingle array, no
    // hex-string round-trip — bit-equal to shingles+shingleHashes,
    // spec-pinned); then ONE custom-expression pass computes all k
    // permutation minima (graft.plans.MinhashPerms)
    val hashed = docs.select(col(idCol),
      graft.plans.TextHashKernels.shingleHash60(
        TextOps.tokens(col(textCol)), shingleSize, TextOps.MinhashMod).as("__hs"))
    val allMins = graft.plans.HashExpressions.minhashPerms(col("__hs"), params, TextOps.MinhashMod)
    val withSig = hashed.select(col(idCol), allMins.as("__mh"))
    val sigs = params.indices.map(i => element_at(col("__mh"), i + 1).as(s"mh$i"))
    withSig.select(col(idCol) +: sigs: _*)
  }

  /** LSH banding on a signature frame: rows (doc_id, band_idx,
    * band_key) where band_key concatenates `rowsPerBand` consecutive
    * minhash values. Docs sharing any (band_idx, band_key) are
    * candidate near-duplicates.
    */
  def lshBands(sig: DataFrame, idCol: String, k: Int, rowsPerBand: Int): DataFrame = {
    val nBands = k / rowsPerBand
    val bands = (0 until nBands).map { b =>
      val key = concat_ws("_", (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}")): _*)
      // `valid` rides INSIDE the generated struct: docs below the
      // shingle size have all-null signatures (concat_ws would silently
      // turn those into colliding "" keys) and must be dropped — but a
      // plain `where(mh0.isNotNull)` on the signature frame gets
      // substituted through the projection and pushed to the scan,
      // re-evaluating the whole shingle+md5+minhash pipeline per row
      // (observed 2× sig cost). A predicate on a generator output
      // cannot cross the Generate, so the filter evaluates the struct
      // field only.
      struct(lit(b).as("band_idx"), key.as("band_key"), col("mh0").isNotNull.as("valid"))
    }
    sig.select(col(idCol), explode(array(bands: _*)).as("band"))
      .where(col("band.valid"))
      .select(col(idCol), col("band.band_idx"), col("band.band_key"))
  }

  /** Candidate pairs (id_a < id_b) from a banded frame WITHOUT a
    * self-join: group by band key, collect the per-bucket id list,
    * explode its ordered pairs. Evaluates the signature plan exactly
    * once (a self-join would run it for both sides).
    *
    * `maxBucket` bounds both the collected list and the O(|bucket|²)
    * pair fan-out: a duplicate-heavy corpus — dedup's own target
    * workload — puts an entire dup cluster into one bucket in every
    * band, which unbounded would be a single-row OOM at scale. Buckets
    * over the cap keep their `maxBucket` smallest ids (deterministic);
    * use `bandBucketStats` to monitor how much a corpus truncates.
    * The cap is enforced BEFORE collection (row_number over the bucket,
    * same exchange, one in-partition sort) so the agg buffer itself is
    * bounded, not just the exploded output.
    */
  def bandCandidatePairs(bands: DataFrame, idCol: String, maxBucket: Int = 1024): DataFrame = {
    val w = Window.partitionBy("band_idx", "band_key").orderBy(col(idCol))
    bands
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= maxBucket)
      .groupBy("band_idx", "band_key")
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(expr(
        "flatten(transform(sequence(1, size(ids) - 1), " +
          "i -> transform(slice(ids, i + 1, size(ids) - i), " +
          "j -> struct(element_at(ids, i) as a, j as b))))")).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
  }

  /** Bucket-size distribution for a banded frame: run this (cheap, one
    * exchange) to pick/validate `maxBucket` for a corpus — rows over
    * the cap are what bandCandidatePairs truncates.
    */
  def bandBucketStats(bands: DataFrame, maxBucket: Int = 1024): DataFrame =
    bands.groupBy("band_idx", "band_key")
      .agg(count(lit(1)).as("bucket_size"))
      .agg(count(lit(1)).as("n_buckets"),
        max("bucket_size").as("max_bucket_size"),
        sum(when(col("bucket_size") > maxBucket, 1L).otherwise(0L)).as("n_over_cap"))

  /** doc_id → smallest banded buddy (null if none): the dedup verdict.
    *
    * Anchors every doc to its bucket MINIMUM instead of materializing
    * all O(|bucket|²) pairs: min(dup_of) over all pair partners equals
    * min over bucket minima, so this is value-identical to the pairwise
    * form while shuffling only (band_key, doc_id) rows and keeping
    * per-bucket work O(|bucket|) — no collect_list, no cap needed, a
    * million-doc dup cluster costs a window min, not 10¹² pairs.
    */
  def minhashDupOf(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      k: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    val sig = minhashSignatures(docs, idCol, textCol, shingleSize, TextOps.minhashParams(k))
    val bands = lshBands(sig, idCol, k, rowsPerBand)
    val bw = Window.partitionBy("band_idx", "band_key")
    val buddies = bands
      .withColumn("__min", min(col(idCol)).over(bw))
      .where(col("__min") < col(idCol))
      .groupBy(col(idCol))
      .agg(min(col("__min")).as("dup_of"))
    docs.select(col(idCol)).join(buddies, Seq(idCol), "left")
  }

  /** Exact n-gram Jaccard on MinHash-LSH candidate pairs: LSH banding
    * proposes candidates (cheap, selective), then the exact verdict is
    * computed per-pair with array_intersect on the distinct shingle
    * sets — no shingle-explode self-join anywhere, so the only shuffles
    * are the band-key exchange and two broadcast-joinable candidate
    * lookups. This is the 100 TB shape; `ngramJaccardPairsExhaustive`
    * below is the small-corpus exact-recall variant.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.5,
      k: Int = 16,
      rowsPerBand: Int = 4,
      maxBroadcastCandidates: Long = 4000000L): DataFrame = {
    val sig = minhashSignatures(docs, idCol, textCol, shingleSize, TextOps.minhashParams(k))
    val bands = lshBands(sig, idCol, k, rowsPerBand)
    // materialize the candidate pairs ONCE: they feed the plan twice
    // (the id semi-join and the pair join), and their measured count
    // decides the join strategy below. Persisting also stops the
    // signature pipeline from being re-evaluated per consumer.
    // Deliberately NOT left to AQE: adaptive SMJ→BHJ conversion happens
    // only after the corpus side's shuffle map stage is submitted, so
    // the corpus would still pay a full shuffle write in the common
    // candidate-light case; the explicit pre-count (one stage over the
    // just-persisted frame) picks broadcast BEFORE any corpus-side
    // exchange exists.
    val cand = bandCandidatePairs(bands, idCol).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nCand = cand.count()
    // candidate frames are ~band-selectivity of the corpus on a clean
    // corpus — broadcast them so the shingle frame never shuffles (its
    // arrays are the only wide payload here). But on a duplicate-HEAVY
    // corpus — dedup's own target workload — candidates are O(corpus)
    // and an unconditional broadcast would OOM the driver, so the hint
    // is gated on the measured count and large candidate sets fall back
    // to shuffle joins.
    val useBroadcast = nCand <= maxBroadcastCandidates
    def hint(df: DataFrame): DataFrame = if (useBroadcast) broadcast(df) else df
    // compute exact shingle sets ONLY for candidate docs: semi-join the
    // corpus down to the candidate ids BEFORE shingling, so the
    // expensive tokenize+shingle+md5 pass over the full corpus happens
    // once (for signatures), not three times — and at scale the shingle
    // arrays of non-candidates never exist, let alone shuffle
    val candIds = cand.select(col("id_a").as(idCol))
      .union(cand.select(col("id_b").as(idCol))).distinct()
    val candDocs = docs.join(hint(candIds), Seq(idCol), "left_semi")
    // exact sets as Horner gram codes over ONE md5-per-token hash array
    // (TextOps.gramHashes) — no shingle-string rebuild, bigint set
    // intersection instead of string comparison; the two-level select
    // keeps the token-hash kernel from re-evaluating per gram
    val withShingles = candDocs
      .select(col(idCol), TextOps.tokenHashes32Kernel(col(textCol)).as("__th"))
      .select(col(idCol),
        array_distinct(TextOps.gramHashes(col("__th"), shingleSize)).as("sh"))
    val pa = withShingles.select(col(idCol).as("id_a"), col("sh").as("sh_a"))
    val pb = withShingles.select(col(idCol).as("id_b"), col("sh").as("sh_b"))
    hint(cand).join(pa, "id_a").join(pb, "id_b")
      .withColumn("shared", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jaccard",
        col("shared").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("shared")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "shared", "jaccard")
  }

  /** Train/test decontamination: per document, the fraction of its
    * DISTINCT token n-grams that appear anywhere in a BENCHMARK corpus
    * — the standard pre-training hygiene pass (documents overlapping an
    * eval set must be flagged or dropped before training). Gram
    * identity is the Horner code over the one-md5-per-token hash array
    * (TextOps.gramHashes — the same identity used by text_repetition
    * and the ngram-Jaccard verify stage).
    *
    * Scale shape: the benchmark's distinct gram set is usually tiny
    * next to the corpus (eval sets are thousands of docs, the corpus
    * billions of docs) — it BROADCASTS, so the corpus side is one
    * map-only scan whose per-doc rollup partial-aggregates before the
    * only exchange (doc_id). No corpus self-join, no corpus-side
    * shuffle of text. The broadcast is GATED on the measured distinct-
    * gram count (the ngramJaccardPairs precedent — same AQE argument:
    * adaptive SMJ→BHJ fires only after the corpus shuffle map stage is
    * submitted, so the pre-count is what saves the corpus exchange):
    * an oversized "benchmark" falls back to a shuffle join instead of
    * OOMing the driver. At that scale, prefer routing the corpus
    * through [[bloomBuild]]/[[bloomProbe]] as a map-only front gate.
    */
  def contaminationScores(
      docs: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      maxBroadcastGrams: Long = 4000000L): DataFrame = {
    import graft.functions.TextOps
    // PERSIST the per-doc gram arrays BEFORE any explode (r18): the
    // optimizer otherwise inlines the whole tokenize→md5→gram chain
    // into the Filter it inserts around the Generate, re-evaluating
    // it once per EXPLODED GRAM row — O(tokens²) md5 work per doc.
    // Invisible at ~250 tokens/doc (synth), a 35-minute hang on the
    // real corpus' 15k-token documents. The cached array relation is
    // an optimizer barrier: the chain runs exactly once per doc.
    def grams(df: DataFrame, extra: Seq[Column]): DataFrame =
      df.select(extra :+ TextOps.tokenHashes32Kernel(col(textCol)).as("__th"): _*)
        .select(extra :+ array_distinct(TextOps.gramHashes(col("__th"), n)).as("__grams"): _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // persist before the gate count: the gram set feeds both the count
    // and the join, and benchmark-side tokenize+md5 shouldn't run twice
    val bGrams = grams(benchmark, Nil)
    val bg = bGrams
      .select(explode(col("__grams")).as("bg")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hinted = if (bg.count() <= maxBroadcastGrams) broadcast(bg) else bg
    // the count above materialized bg's cache, which is the only
    // consumer of the benchmark gram arrays — release them now instead
    // of waiting for the ContextCleaner (the docs-side gram cache below
    // must outlive this call: it backs the returned lazy query, and is
    // freed by the cleaner once the caller drops the frame)
    bGrams.unpersist(blocking = false)
    grams(docs, Seq(col(idCol)))
      .select(col(idCol), size(col("__grams")).as("n_grams"), explode_outer(col("__grams")).as("g"))
      .join(hinted, col("g") === col("bg"), "left")
      .groupBy(col(idCol), col("n_grams"))
      .agg(count(col("bg")).as("matched"))
      .select(col(idCol), col("n_grams").cast("long").as("n_grams"), col("matched"),
        when(col("n_grams") > 0,
          col("matched").cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)).as("contamination"))
  }

  /** FUZZY train/test decontamination — the NEAR-duplicate sibling of
    * [[contaminationScores]]: exact n-gram containment misses
    * paraphrased or lightly-edited benchmark leakage, so this pass
    * finds corpus documents whose MinHash signature collides with any
    * BENCHMARK document in an LSH band and scores the match by
    * signature agreement (#equal components / k — the standard
    * unbiased Jaccard estimator). Per corpus doc: candidate count,
    * best-matching benchmark id (highest agreement, lowest id on
    * ties), the agreement estimate, and the ≥50% flag.
    *
    * Scale shape: both sides collapse to k-component signatures
    * (map-only kernel scans); the benchmark side — eval sets are
    * thousands of docs against a corpus of billions — is
    * broadcast-gated on its measured signature count (the
    * contaminationScores precedent: AQE's SMJ→BHJ fires only after
    * the corpus shuffle map stage is submitted, so the explicit
    * pre-count is what saves the corpus-side band exchange), with a
    * shuffle fallback. The verdict aggregation is a partial-agg
    * groupBy on doc_id with an integer-keyed min_by (no window), and
    * only (id, 16 longs) rows ever move — never text.
    */
  def fuzzyContamination(
      docs: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      k: Int = 16,
      rowsPerBand: Int = 4,
      maxBroadcastBench: Long = 4000000L): DataFrame = {
    val params = TextOps.minhashParams(k)
    val dSig = minhashSignatures(docs, idCol, textCol, shingleSize, params)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bench = benchmark.select(col(idCol).as("__bid"), col(textCol))
    val bSig = minhashSignatures(bench, "__bid", textCol, shingleSize, params)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val useBroadcast = bSig.count() <= maxBroadcastBench
    def hint(df: DataFrame): DataFrame = if (useBroadcast) broadcast(df) else df
    val dBands = lshBands(dSig, idCol, k, rowsPerBand)
    val bBands = lshBands(bSig, "__bid", k, rowsPerBand)
      .withColumnRenamed("band_idx", "__bbi").withColumnRenamed("band_key", "__bbk")
    val cand = dBands
      .join(hint(bBands), col("band_idx") === col("__bbi") && col("band_key") === col("__bbk"))
      .select(col(idCol), col("__bid")).distinct()
    val bSigR = bSig.select(col("__bid") +: (0 until k).map(i => col(s"mh$i").as(s"__bmh$i")): _*)
    val agree = (0 until k)
      .map(i => when(col(s"mh$i") === col(s"__bmh$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val scored = cand
      .join(dSig, Seq(idCol))
      .join(hint(bSigR), Seq("__bid"))
      .select(col(idCol), col("__bid"), agree.as("__agree"))
    // best match = highest agreement, lowest benchmark id on ties.
    // A window max over the doc partition + conditional min (instead
    // of an arithmetic packed min_by key) stays exact for ANY 64-bit
    // benchmark id — a packed `bid - agree·2^40` key mis-orders or
    // overflows once ids reach 2^40 or go negative. The window rides
    // the same doc-keyed exchange as the groupBy that follows.
    val wDoc = Window.partitionBy(col(idCol))
    val best = scored
      .withColumn("__ba", max(col("__agree")).over(wDoc))
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_candidates"),
        max(col("__agree")).as("best_agree"),
        min(when(col("__agree") === col("__ba"), col("__bid"))).as("best_bench"))
    docs.select(col(idCol)).join(best, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("best_bench"),
        col("best_agree"),
        (col("best_agree").cast("double") / lit(k.toDouble)).as("sim_est"),
        coalesce(col("best_agree") >= lit((k / 2).toLong), lit(false)).as("flagged"))
  }

  /** Exact duplicated-substring detection — the suffix-array
    * exact-substring pass of Lee et al., "Deduplicating Training Data
    * Makes Language Models Better" (arXiv:2107.06499), re-expressed as
    * a corpus-wide span-hash frequency count: fixed-length character
    * windows at a fixed stride over the NORMALIZED text, window
    * identity = h60(window); any window whose hash occurs more than
    * once anywhere in the corpus is a duplicated span. Per document:
    * span count, duplicated-span count, duplicated fraction — the
    * signal the reference pass thresholds to cut boilerplate and
    * templated text that survives doc-level dedup.
    *
    * A true distributed suffix array orders all O(N) suffixes — a
    * multi-terabyte global sort whose comparisons touch the text
    * itself. The strided-window relaxation keeps the detection
    * guarantee that matters (any verbatim repeat of length ≥
    * winLen + stride − 1 contains at least one aligned window on both
    * sides when repeats are stride-aligned; unaligned repeats shift
    * detection by < stride spans) while the only shuffled payload is
    * (doc_id, 8-byte hash) pairs — never the text.
    *
    * Skew shape: a boilerplate banner pasted across a web corpus is a
    * GUARANTEED hot span hash, not a pathological one. An earlier
    * revision computed span frequency with a count-only window on the
    * bare hash — 10⁹ copies × 16 B = 16 GB in one WindowExec partition
    * that AQE cannot split (windows need whole partitions). Current
    * shape: (1) groupBy(doc, hash) — the doc id diffuses the hot hash
    * and partial aggregation collapses within-doc repeats map-side;
    * (2) groupBy(hash) over that — partial agg collapses the hot key
    * to one row per map task before the exchange; (3) shuffle JOIN
    * back, whose per-hash probe rows are bounded by
    * #docs-containing-it and whose exchange — unlike a window — AQE's
    * OptimizeSkewedJoin can split; (4) doc rollup with map-side
    * partial aggregation.
    */
  def substringDupStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      winLen: Int = 32,
      stride: Int = 8): DataFrame = {
    require(winLen >= 1 && stride >= 1)
    // positions 1, 1+stride, … ≤ len−winLen+1 over the normalized text;
    // a doc shorter than winLen yields zero spans but MUST survive to
    // the output (explode_outer of the empty array → one null row) with
    // n_spans = 0. SpanHash60 replaces the declarative
    // transform(sequence, i -> h60(substring(t,i,winLen))) — which was
    // QUADRATIC per doc (each substring scans from byte 0 to find its
    // char offset; 137 s of the r18 real-corpus gate) — with one
    // byte-pass per doc (TextHashKernelSpec pins bit-equality).
    val spans = docs
      .select(col(idCol), TextOps.normalize(col(textCol)).as("__t"))
      .select(col(idCol),
        explode_outer(graft.plans.TextHashKernels.spanHash60(col("__t"), winLen, stride))
          .as("__h"))
    // stage 1: per-(doc, hash) multiplicity — doc id in the key
    // diffuses a corpus-hot span; null rows (zero-span docs) ride
    // through as (doc, null) so every doc reaches the rollup
    val docSpan = spans.groupBy(col(idCol), col("__h"))
      .agg(count(lit(1)).as("__k"))
    // stage 2: corpus-wide span frequency via partial-agg groupBy —
    // the hot hash collapses to one row per map task pre-exchange
    // (the count-only window this replaces shuffled every occurrence
    // onto the bare hash: an unsplittable straggler on banner spans)
    val freq = docSpan.where(col("__h").isNotNull)
      .groupBy(col("__h")).agg(sum(col("__k")).as("__c"))
      .withColumnRenamed("__h", "__fh")
    // stage 3: join back — AQE-skew-splittable, probe rows per hash
    // bounded by #docs containing the span
    docSpan.join(freq, col("__h") === col("__fh"), "left")
      .groupBy(col(idCol))
      .agg(
        coalesce(sum(when(col("__h").isNotNull, col("__k"))), lit(0L))
          .as("n_spans"),
        coalesce(sum(when(col("__c") > 1, col("__k")).otherwise(0L)), lit(0L))
          .as("n_dup_spans"))
      .select(col(idCol), col("n_spans"), col("n_dup_spans"),
        when(col("n_spans") > 0,
          col("n_dup_spans").cast("double") / col("n_spans").cast("double"))
          .as("dup_frac"))
  }

  /** Asymmetric n-gram CONTAINMENT pairs — the quote / partial-copy
    * detector Jaccard misses: a 50-shingle doc fully embedded in a
    * 5000-shingle doc has Jaccard ≈ 0.01 (and near-zero minhash-band
    * collision probability) but containment(A→B) = |A∩B|/|A| = 1.0.
    * Emits both directions plus the max, thresholded on the max.
    *
    * Scale shape: the frequency-capped shingle INVERTED INDEX —
    * not minhash banding, whose recall is Jaccard-driven and therefore
    * structurally blind to small-in-large containment. Only
    * (shingle-hash, doc_id) pairs shuffle; shingle frequencies come
    * from a partial-agg groupBy (Zipf-safe), and the ≤ `maxShingleFreq`
    * cap bounds per-shingle pair fan-out, so the candidate join is
    * linear in corpus shingles × cap, never quadratic in the corpus.
    * Boilerplate shingles above the cap carry no containment signal
    * (they appear everywhere) — dropping them is the standard
    * inverted-index pruning, not a recall loss for meaningful pairs.
    */
  def ngramContainmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.6,
      maxShingleFreq: Long = 1000L): DataFrame = {
    // ONE kernel pass: token hashes → distinct Horner gram codes.
    // PERSISTED: the frame feeds four consumers (counts, the frequency
    // table, and both sides of the candidate self-join), and without
    // the cache each consumer re-runs the md5-per-token kernel — a
    // measured 22 s per re-evaluation at sf0.1 vs ~1 s from cache.
    // Blocks are freed by the ContextCleaner when the frame is GC'd.
    // Deserialized, not _SER: r22 ABAB runs (sf0.1, 32 cores) measured
    // the serialized cache within 2-4% — the gram arrays are primitive
    // longs, so there is little object overhead to save.
    val shLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val withSh = docs
      .select(col(idCol), TextOps.tokenHashes32Kernel(col(textCol)).as("__th"))
      .select(col(idCol),
        array_distinct(TextOps.gramHashes(col("__th"), shingleSize)).as("__sh"))
      .persist(shLevel)
    val counts = withSh.select(col(idCol), size(col("__sh")).cast("long").as("n_sh"))
    val grams = withSh.select(col(idCol), explode(col("__sh")).as("__g"))
    // two-stage frequency + cap: partial agg collapses hot shingles
    val rare = grams.groupBy(col("__g")).agg(count(lit(1)).as("__freq"))
      .where(col("__freq") <= maxShingleFreq)
      .select(col("__g"))
    // persisted for the same reason: the self-join scans it twice
    val filtered = grams.join(rare, Seq("__g"), "left_semi")
      .persist(shLevel)
    val shared = filtered.as("a").join(filtered.as("b"),
        col("a.__g") === col("b.__g") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(counts.withColumnRenamed(idCol, "id_a").withColumnRenamed("n_sh", "__na"), "id_a")
      .join(counts.withColumnRenamed(idCol, "id_b").withColumnRenamed("n_sh", "__nb"), "id_b")
      .withColumn("containment_a", col("shared").cast("double") / col("__na").cast("double"))
      .withColumn("containment_b", col("shared").cast("double") / col("__nb").cast("double"))
      .withColumn("containment", greatest(col("containment_a"), col("containment_b")))
      .where(col("containment") >= threshold)
      .select("id_a", "id_b", "shared", "containment_a", "containment_b", "containment")
  }

  /** All-pairs exact n-gram Jaccard via shingle self-join (exact
    * recall; the shingle frequency cap guards blow-up). Quadratic in
    * per-shingle frequency — use the LSH-candidate variant at scale.
    */
  def ngramJaccardPairsExhaustive(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.5,
      maxShingleFreq: Long = 1000L): DataFrame = {
    val sh = docs
      .select(col(idCol), explode(TextOps.shingles(TextOps.tokens(col(textCol)), shingleSize)).as("sh"))
      .distinct()
    val counts = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val filtered = sh.join(
      sh.groupBy("sh").agg(count(lit(1)).as("freq")).where(col("freq") <= maxShingleFreq),
      Seq("sh"))
    val pairs = filtered.as("a").join(filtered.as("b"),
        col("a.sh") === col("b.sh") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(counts.withColumnRenamed(idCol, "id_a").withColumnRenamed("n_sh", "na"), "id_a")
      .join(counts.withColumnRenamed(idCol, "id_b").withColumnRenamed("n_sh", "nb"), "id_b")
      .withColumn("jaccard",
        col("shared").cast("double") / (col("na") + col("nb") - col("shared")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "shared", "jaccard")
  }

  /** SimHash signatures + near-dup verdict: byte-banded candidate join,
    * verified by hamming distance on the 32-bit signature.
    */
  def simhashDupOf(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 1024): DataFrame = {
    val sig = docs
      .select(col(idCol), graft.plans.TextHashKernels.tokenHash60(
        TextOps.tokens(col(textCol)), 4294967296L).as("__th"))
      .select(col(idCol), graft.plans.HashExpressions.simhash32(col("__th")).as("simhash"))
    val bands = sig.select(col(idCol), col("simhash"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band_idx"), shiftright(col("simhash"), b * 8).bitwiseAND(lit(255L)).as("band_key"))
      }: _*)).as("band"))
      .select(col(idCol), col("simhash"), col("band.band_idx"), col("band.band_key"))
    // window-mates form: every band row sees its bucket's id-sorted
    // (id, simhash) list (capped to the maxBucket smallest ids), finds
    // its smallest hamming-verified smaller-id mate, and the per-doc
    // verdict is a groupBy min over its 4 band rows. ONE evaluation of
    // the signature scan, no join-back (the old pair-explode + join
    // re-ran the md5/simhash pipeline for the output's simhash column),
    // per-bucket work still O(bucket²) bounded by the cap.
    // The cap is enforced BEFORE collection (entries past the
    // maxBucket-th id are collected as NULL, which collect_list skips)
    // so the window agg buffer itself is bounded — same discipline as
    // bandCandidatePairs, same exchange, one shared in-partition sort.
    val rw = Window.partitionBy("band_idx", "band_key").orderBy(col(idCol))
    val bw = rw.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val withMates = bands
      .withColumn("__rn", row_number().over(rw))
      .withColumn("__mates",
        collect_list(when(col("__rn") <= maxBucket,
          struct(col(idCol).as("id"), col("simhash").as("sh")))).over(bw))
    val buddy = array_min(transform(
      filter(col("__mates"), m =>
        m.getField("id") < col(idCol) &&
          bit_count(m.getField("sh").bitwiseXOR(col("simhash"))) <= lit(maxHamming)),
      m => m.getField("id")))
    withMates
      .select(col(idCol), col("simhash"), buddy.as("__buddy"))
      .groupBy(col(idCol))
      .agg(first(col("simhash")).as("simhash"), min(col("__buddy")).as("dup_of"))
  }

  /** Embedding near-dup pairs: cosine >= threshold. `bucketed=true`
    * restricts pairs to matching LSH buckets (the 100 TB path): one
    * bucket-assignment scan, one exchange on the bucket key, per-bucket
    * pair explosion over (id, vec) structs — no self-join (which would
    * evaluate the scan+bucket plan twice), bucket size capped like the
    * banded text paths. `bucketed=false` brute-forces via a self-join
    * (oracle-friendly on subsamples).
    */
  def embeddingCosinePairs(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      bucketed: Boolean = false,
      planes: Seq[Array[Double]] = VectorOps.lshPlanes(8, 64),
      maxBucket: Int = 4096): DataFrame = {
    if (bucketed) {
      val base = embs.select(col(idCol), col(vecCol),
        VectorOps.lshBucket(col(vecCol), planes).as("__b"))
      val bw = Window.partitionBy("__b").orderBy(col(idCol))
      val pairs = base
        .withColumn("__rn", row_number().over(bw))
        .where(col("__rn") <= maxBucket)
        .groupBy("__b")
        .agg(sort_array(collect_list(struct(col(idCol).as("id"), col(vecCol).as("v")))).as("xs"))
        .where(size(col("xs")) > 1)
        .select(explode(expr(
          "flatten(transform(sequence(1, size(xs) - 1), " +
            "i -> transform(slice(xs, i + 1, size(xs) - i), " +
            "j -> struct(element_at(xs, i) as a, j as b))))")).as("p"))
      pairs
        .select(col("p.a.id").as("id_a"), col("p.b.id").as("id_b"),
          VectorOps.cosine(col("p.a.v"), col("p.b.v")).as("cos"))
        .where(col("cos") >= threshold)
    } else {
      val base = embs.select(col(idCol), col(vecCol))
      val pairs = base.as("a").join(base.as("b"), col(s"a.$idCol") < col(s"b.$idCol"))
      pairs
        .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
          VectorOps.cosine(col(s"a.$vecCol"), col(s"b.$vecCol")).as("cos"))
        .where(col("cos") >= threshold)
    }
  }

  /** SemDeDup (Abbas et al. 2303.09540, public): semantic near-dup
    * removal by pairwise cosine WITHIN trained quantizer cells —
    * cluster the embedding space, then compare only same-cell pairs
    * and keep the smallest-id member of each near-duplicate family.
    * This is the scale answer to embeddingCosinePairs' all-pairs
    * form: assignment is the ZERO-shuffle nearest-centroid kernel
    * scan (plans.NearestCentroidKernel — centroids are plan
    * literals), the pair join shuffles once on the cell id, and
    * per-cell fan-out is bounded by the cell population (k cells
    * sized ~√N at corpus scale; a skewed cell is an AQE-splittable
    * JOIN partition, not a window). The keep-min verdict is a
    * partial-agg groupBy on id_b — the de-skewed dedup_exact shape.
    *
    * Returns one row per flagged (non-representative) vector:
    * (idCol, dup_of = smallest same-cell id within `threshold`
    * cosine, n_near = how many earlier near-duplicates it has).
    */
  def semanticDedup(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      threshold: Double): DataFrame = {
    val assigned = graft.ann.Ann.ivfAssign(corpus, idCol, vecCol, centroids)
    val a = assigned.select(col("cell").as("__ca"), col(idCol).as("id_a"), col(vecCol).as("__va"))
    val b = assigned.select(col("cell").as("__cb"), col(idCol).as("id_b"), col(vecCol).as("__vb"))
    a.join(b, col("__ca") === col("__cb") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorOps.cosine(col("__va"), col("__vb")).as("__cos"))
      .where(col("__cos") >= threshold)
      .groupBy(col("id_b"))
      .agg(min(col("id_a")).as("dup_of"), count(lit(1)).as("n_near"))
      .select(col("id_b").as(idCol), col("dup_of"), col("n_near"))
  }

  /** Alternating large-star/small-star connected components over an
    * undirected edge list (the two-phase contraction of Kiveris et
    * al., "Connected Components in MapReduce and Beyond", 2014 —
    * public). Each round hangs every vertex under the minimum of a
    * neighborhood, which HALVES tree heights instead of walking them:
    * round count is O(log n) in component size, not the graph diameter
    * that plain min-label propagation pays on chain-shaped components
    * (a 64-link chain converges in ~4 rounds, not 64).
    *
    * Phases, over edges kept in downward orientation (hi > lo):
    *  - large-star: for each u, every neighbor v > u re-hangs onto
    *    m = min(N(u) ∪ {u});
    *  - small-star: for each u, its smaller neighbors (and u itself)
    *    re-hang onto m = min of that set.
    * Each phase is one partial-aggregated min + one shuffle join, both
    * sized by the duplicate families, never the corpus. Fixpoint ⇔ the
    * edge set stops changing; detected by (count, Σ xxhash64(hi, lo))
    * — O(1) driver state per round. At fixpoint the edges are exactly
    * the stars (member → component-minimum).
    *
    * Returns (labels id → lab for every non-singleton vertex, rounds
    * used, converged).
    */
  private[dedup] def connectedComponentsStar(
      undirected: DataFrame, // (src, dst), any orientation
      maxIters: Int,
      checkpointEvery: Int = 2): (DataFrame, Int, Boolean) = {
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1, got $checkpointEvery")
    // eager localCheckpoint, not persist: each phase references its
    // input several times (unions of selects), so the LOGICAL plan
    // grows geometrically per round — checkpointing truncates the
    // lineage to a materialized LogicalRDD (the standard iterative-
    // graph trade: executor-local storage, recompute restarts the job
    // on loss), keeping planning O(edges) instead of O(4^rounds).
    // Cadence: every `checkpointEvery` rounds, not every round — at
    // 100 TB each checkpoint materializes the full edge frame. The
    // window of k contraction passes stacks LAZILY and then takes
    // exactly ONE action (checkpoint, then a checksum scan of the
    // materialized blocks), so each pass is computed exactly once and
    // a window costs one job + one materialization where every-round
    // costs k of each. The price is convergence-detection granularity
    // k: the checksum is compared checkpoint-to-checkpoint, so up to
    // 2k-2 idempotent extra passes run after the frame stabilizes
    // (contraction of a converged frame is the identity — labels are
    // unaffected, pinned by ClustersSpec's cadence-parity test).
    //
    // Dataset.unpersist() does NOT free checkpoint blocks (they're held
    // by the internal RDD persist, not the cache manager — round-8
    // advisory): reach the LogicalRDD's rdd and unpersist THAT, after
    // the eager successor checkpoint has consumed it.
    def freeCheckpoint(df: DataFrame): Unit =
      df.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = false); ()
        case _ => ()
      }
    var e = undirected
      .select(greatest(col("src"), col("dst")).as("hi"), least(col("src"), col("dst")).as("lo"))
      .where(col("hi") =!= col("lo"))
      .distinct()
      .localCheckpoint(true)
    // m = min(N(u) ∪ {u}) ≤ u < v for every emitted (v, m): edges stay
    // strictly downward in both phases, so no self-loop filtering is
    // needed after the initial canonicalization. Both phases compute m
    // as a WINDOW min over the neighborhood partition instead of a
    // groupBy + join-back — one exchange where the join form pays
    // three; the round's only other exchange is smallStar's closing
    // distinct (largeStar's duplicates are band-bounded and cheaper to
    // let smallStar's window absorb than to shuffle away twice).
    def largeStar(edges: DataFrame): DataFrame = {
      val sym = edges.select(col("hi").as("u"), col("lo").as("v"))
        .union(edges.select(col("lo").as("u"), col("hi").as("v")))
      val m = min(least(col("v"), col("u"))).over(Window.partitionBy("u"))
      sym.withColumn("m", m).where(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
    }
    def smallStar(edges: DataFrame): DataFrame = {
      // (hi, lo) with lo < hi IS the smaller-neighbor orientation
      val withM = edges.withColumn("m", min(col("lo")).over(Window.partitionBy("hi")))
      withM.where(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .union(withM.select(col("hi"), col("m").as("lo")))
        .distinct()
    }
    // per-edge hash folded mod a large prime so the sum can't overflow
    // long under ANSI arithmetic (xxhash64 is full-range 64-bit)
    def checksum(edges: DataFrame): (Long, Long) = {
      val r = edges
        .agg(count(lit(1)),
          coalesce(sum(pmod(xxhash64(col("hi"), col("lo")), lit(1000000007L))), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    var chk = checksum(e) // cheap: e is already checkpointed
    var rounds = 0
    var converged = false
    var lastCkpt = e // the frame currently holding checkpoint blocks
    while (!converged && rounds < maxIters) {
      // stack up to k passes lazily — NO action until the checkpoint
      var next = e
      var passes = 0
      while (passes < checkpointEvery && rounds + passes < maxIters) {
        next = smallStar(largeStar(next))
        passes += 1
      }
      val ck = next.localCheckpoint(true)
      // ck is materialized (eager), so the predecessor's blocks are
      // no longer reachable from any live plan — free them now
      freeCheckpoint(lastCkpt)
      lastCkpt = ck
      val nchk = checksum(ck) // cheap scan of the materialized blocks
      converged = nchk == chk
      chk = nchk
      e = ck
      rounds += passes
    }
    // e is always checkpointed here — that ONE frame's blocks stay
    // live for the caller (bounded: one frame, not one per round)
    (e.groupBy(col("hi").as("id")).agg(min("lo").as("lab")), rounds, converged)
  }

  /** Transitive duplicate CLUSTERS: connected components over the
    * minhash band-bucket graph. `minhashDupOf` anchors every doc to
    * its bucket minimum — correct per bucket but NOT transitive (A~B
    * in one band, B~C in another leaves A and C in different
    * clusters). This op closes the transitivity gap with
    * [[connectedComponentsStar]], the curation step that decides "keep
    * exactly one doc per duplicate FAMILY".
    *
    * Scale shape: edges are the bucket STARS (bucket-min → member) —
    * LINEAR in corpus size, never the quadratic in-bucket pair list;
    * connectivity is identical because a star spans its bucket. The
    * contraction rounds are O(log family-size) (`maxIters` caps
    * pathology), each one partial-agg min + one shuffle join sized by
    * the duplicate families; the only driver-side values are the O(1)
    * per-round checksums. Singletons never enter the loop and rejoin
    * at the final left join.
    */
  def duplicateClusters(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      k: Int = 16,
      rowsPerBand: Int = 4,
      maxIters: Int = 20,
      checkpointEvery: Int = 0): DataFrame = {
    // checkpointEvery=0 → read spark.graft.clusters.checkpointEvery
    // (default 1). Every-round detection minimizes contraction passes —
    // the right default for shallow duplicate families; a 100 TB corpus
    // with deep families raises it to trade idempotent tail passes for
    // k× fewer jobs + materializations (see connectedComponentsStar).
    val cadence =
      if (checkpointEvery >= 1) checkpointEvery
      else docs.sparkSession.conf.getOption("spark.graft.clusters.checkpointEvery")
        .map(graft.GraftConf.parse("spark.graft.clusters.checkpointEvery", _,
          "an integer >= 1")(_.toIntOption.filter(_ >= 1)))
        .getOrElse(1)
    val sig = minhashSignatures(docs, idCol, textCol, shingleSize, TextOps.minhashParams(k))
    val bands = lshBands(sig, idCol, k, rowsPerBand)
    val bw = Window.partitionBy("band_idx", "band_key")
    val star = bands
      .withColumn("__min", min(col(idCol)).over(bw))
      .where(col("__min") < col(idCol))
      .select(col("__min").cast("long").as("src"), col(idCol).cast("long").as("dst"))
      .distinct()
    val (labels, _, converged) = connectedComponentsStar(star, maxIters, cadence)
    // a component needing more contraction rounds than maxIters would
    // exit here un-converged and SILENTLY mis-split its cluster (the
    // oracle's recursive CTE computes the full closure, so the
    // divergence would only surface as a verification mismatch) — make
    // it loud instead
    if (!converged)
      System.err.println(
        s"[graft] duplicateClusters: star contraction did NOT converge " +
          s"after $maxIters rounds — cluster ids for oversized " +
          s"components are unreliable; raise maxIters")
    docs.select(col(idCol).cast("long").as(idCol))
      .join(labels.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("lab"), col(idCol)).as("cluster_id"))
  }

  /** End-to-end near-duplicate PURGE verdict — the complete kill path
    * a curation pipeline actually executes: transitive families from
    * [[duplicateClusters]], family sizes, and a keep/drop verdict
    * (keep ⇔ the document IS its family's representative, i.e. the
    * minimum id — singletons keep themselves). Family sizes ride the
    * de-skewed two-stage shape: partial-agg groupBy on the cluster id
    * (a 10⁹-member family collapses map-side) + an AQE-skew-splittable
    * join back, never a window.
    */
  def purgeStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val clusters = duplicateClusters(docs, idCol, textCol)
    val fam = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("family_size"))
    clusters.join(fam, Seq("cluster_id"))
      .select(col(idCol), col("cluster_id"), col("family_size"),
        (col(idCol) === col("cluster_id")).as("kept"))
  }

  /** Quality-aware purge: same transitive families as [[purgeStats]],
    * but the representative is the family's BEST-QUALITY member (s4
    * integer score; ties → lowest id), not the lowest id — the verdict
    * a real curation pipeline wants ("keep the cleanest copy"). The
    * representative pick is a partial-aggregated min_by over the
    * integer (−q4, id) order struct, joined back on the cluster id —
    * no window over family partitions (a viral family is a hot key).
    */
  def purgeBestQuality(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val clusters = duplicateClusters(docs, idCol, textCol)
    val scored = docs.select(col(idCol).cast("long").as(idCol),
      floor(graft.functions.TextOps.qualityScore(col(textCol)) * 10000d + 0.5d)
        .cast("long").as("q4"))
    val joined = clusters.join(scored, Seq(idCol))
    val best = joined.groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).as("family_size"),
        min_by(col(idCol), struct((-col("q4")).as("nq"), col(idCol).as("i"))).as("rep_id"))
    joined.join(best, Seq("cluster_id"))
      .select(col(idCol), col("cluster_id"), col("family_size"), col("q4"),
        col("rep_id"), (col(idCol) === col("rep_id")).as("kept"))
  }

  /** The k salted positions of a document's normalized text in an
    * m-bit Bloom filter: h60("j:" ++ normalize(text)) mod m for
    * j = 0..k-1. Shared by build and probe (and mirrored by the SQL
    * twin), so membership semantics are identical everywhere.
    */
  def bloomPositions(textCol: Column, m: Int, k: Int): Seq[Column] =
    (0 until k).map { j =>
      pmod(TextOps.h60(concat(lit(s"$j:"), TextOps.normalize(textCol))), lit(m.toLong))
    }

  /** Build an m-bit Bloom filter of a reference corpus's normalized
    * texts. The distinct-position set is computed DISTRIBUTED (explode
    * + partial-aggregated distinct); only the positions land on the
    * driver — bounded by m (= m/8 bytes of bitset) REGARDLESS of
    * corpus size, which is the entire point of the structure: at
    * 100 TB the reference corpus never fits a broadcast join's hash
    * table, but its Bloom summary is a fixed, tiny array.
    */
  def bloomBuild(ref: DataFrame, textCol: String, m: Int = 1 << 17, k: Int = 3): Array[Long] = {
    require(m > 0 && (m & (m - 1)) == 0, s"m must be a power of two, got $m")
    require(m % 64 == 0, s"m must be a multiple of 64, got $m")
    val words = new Array[Long](m / 64)
    ref.select(explode(array(bloomPositions(col(textCol), m, k): _*)).as("p"))
      .distinct()
      .collect()
      .foreach { r =>
        val p = r.getLong(0)
        words((p >> 6).toInt) |= 1L << (p & 63)
      }
    words
  }

  /** Probe: flag documents whose k positions are ALL set — "maybe in
    * the reference corpus" (false positives at the classic Bloom rate,
    * never false negatives). The bitset rides the plan as a LITERAL
    * array, so the probe is a map-only codegen'd scan: no join, no
    * shuffle, no state — the cheapest possible first-pass filter in
    * front of an exact decontamination or dedup join.
    */
  def bloomProbe(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bits: Array[Long],
      m: Int,
      k: Int): DataFrame = {
    require(bits.length == m / 64, s"bitset has ${bits.length} words, expected ${m / 64}")
    val wordsCol = typedLit(bits.toSeq)
    val positions = bloomPositions(col(textCol), m, k)
    val staged = docs.select(
      (col(idCol) +: positions.zipWithIndex.map { case (p, i) => p.as(s"__p$i") }) :+
        wordsCol.as("__bloom"): _*)
    // the DSL's shiftrightunsigned only takes a literal shift; the SQL
    // form binds ShiftRightUnsigned(col, col) directly
    val tests = (0 until k).map(i =>
      expr(s"(shiftrightunsigned(element_at(__bloom, cast(__p$i div 64 as int) + 1), " +
        s"cast(__p$i % 64 as int)) & 1) = 1"))
    staged.select(col(idCol), tests.reduce(_ && _).as("maybe_in_ref"))
  }

  /** LINE-level deduplication stats (the CCNet recipe): a line that
    * appears in ≥ `minDocs` DISTINCT documents is boilerplate (license
    * stanzas, navigation chrome, changelog headers) and a curation
    * pipeline drops it before training. Per document:
    * `n_lines` (all newline-split segments), `n_elig` (trimmed UTF-8
    * BYTE length ≥ `minLen` — short/blank lines are excluded from dup
    * counting, else the empty line is the ultimate Zipf-hot key; byte
    * semantics because engines disagree on what a "character" is for
    * combining sequences — octet_length/strlen agree everywhere),
    * `n_dup` (eligible line INSTANCES whose trimmed text recurs in ≥
    * minDocs docs), `kept_bytes` (raw bytes surviving the drop), and
    * `dup_line_ratio` = n_dup / n_elig (null when nothing is eligible;
    * one exact-integer IEEE division — bit-exact cross-engine).
    *
    * Scale shape: the shuffled payload is (16-byte md5 digest, doc_id)
    * pairs — never the lines; the per-line doc count is a two-phase
    * partial-agg distinct; the dup-key set joins back on the digest
    * (AQE-skew-splittable — a crawl-scale boilerplate line is a hot
    * key by construction). minLen also caps how short (= how hot) a
    * digest can get. Same digest-collision contract as [[exact]].
    */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 2, minLen: Int = 8): DataFrame = {
    val lines = docs.select(col(idCol),
      explode(split(col(textCol), "\n")).as("__line"))
      .withColumn("__t", trim(col("__line")))
      .withColumn("__elig", octet_length(col("__t")) >= minLen)
      .withColumn("__k", when(col("__elig"), unhex(md5(col("__t")))))
    val dupKeys = lines.where(col("__elig"))
      .groupBy(col("__k"))
      .agg(countDistinct(col(idCol)).as("__d"))
      .where(col("__d") >= minDocs)
      .select(col("__k").as("__dk"), lit(1L).as("__dup"))
    lines.join(dupKeys, lines("__k") === dupKeys("__dk"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("__elig"), 1L).otherwise(0L)).as("n_elig"),
        sum(when(col("__elig") && col("__dup").isNotNull, 1L).otherwise(0L)).as("n_dup"),
        sum(when(col("__elig") && col("__dup").isNotNull, 0L)
          .otherwise(octet_length(col("__line")).cast("long"))).as("kept_bytes"))
      .withColumn("dup_line_ratio",
        when(col("n_elig") === 0, lit(null).cast("double"))
          .otherwise(col("n_dup").cast("double") / col("n_elig")))
  }
}
