package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftExpressions
import graft.functions.TextFunctions._
import graft.ops.Pin._

/** Deduplication operators for the training-data pipeline, over a
  * documents(doc_id, text, ...) table.
  *
  * Scale posture: every variant avoids the O(n²) cross join —
  *  - exact: one shuffle on the content fingerprint;
  *  - n-gram Jaccard: inverted-index self-join on shingle hash (only
  *    docs sharing a shingle ever meet), with a low-frequency filter to
  *    kill hub shingles;
  *  - MinHash/LSH: candidates only from shared (band, band-signature)
  *    buckets — shuffle is O(n·bands), verification only on candidates;
  *  - SimHash: candidates from shared 16-bit sub-bands of the signature.
  */
object Dedup {

  /** Exact dedup: group by md5(normalized text); keeper = min doc_id.
    * One hash-shuffle; partial aggregation map-side. */
  def exact(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), fingerprintMd5(col("text")).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("dup_count"))

  /** PRIORITY dedup — the production curation rule: among exact
    * duplicates keep the copy from the most trusted source (lower
    * `priority` wins; doc_id breaks ties) instead of the arbitrary
    * min-id keeper. One fingerprint shuffle, keeper picked by a
    * struct-ordered min_by (lexicographic (priority, doc_id) — the
    * deterministic two-level pick). Returns (fp, keeper_id,
    * keeper_source, n_copies). */
  def priorityDedup(docs: DataFrame, priority: Column): DataFrame =
    docs
      .select(col("doc_id"), col("source"), priority.as("pri"),
        fingerprintMd5(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(min_by(struct(col("doc_id"), col("source")),
          struct(col("pri"), col("doc_id"))).as("k"),
        count(lit(1)).as("n_copies"))
      .select(col("fp"), col("k.doc_id").as("keeper_id"),
        col("k.source").as("keeper_source"), col("n_copies"))

  /** Incremental-batch exact dedup — the continuous-ingestion shape: a
    * NEW batch of documents is deduplicated against the already-ingested
    * base corpus (drop any batch doc whose fingerprint already exists in
    * the base) and then within itself (keeper = min doc_id per
    * fingerprint among the survivors). Returns one row per genuinely-new
    * content fingerprint: (fp, keeper_id, batch_dups).
    *
    * Scale shape: the cross-corpus screen is ONE anti-join on the
    * fingerprint — both sides shuffle on fp, no broadcast of the
    * (enormous) base set; a deployment would additionally keep a bloom
    * filter of base fingerprints as a scan-side prefilter (the
    * RuntimeFilters.bloomPrunedSemiJoin pattern) so most batch rows never
    * reach the shuffle. The within-batch pass is the same single
    * groupBy as [[exact]]. */
  def incremental(base: DataFrame, batch: DataFrame): DataFrame = {
    def fp(df: DataFrame) =
      df.select(col("doc_id"), fingerprintMd5(col("text")).as("fp"))
    fp(batch)
      .join(fp(base).select(col("fp")), Seq("fp"), "left_anti")
      .groupBy("fp")
      .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("batch_dups"))
  }

  /** Per-document duplicated-SPAN fraction — the ExactSubstr-style
    * partial-overlap screen (a doc can be mostly copied without being a
    * whole-doc near-dup): the share of a doc's distinct k-token shingles
    * that occur in at least one other document.
    *
    * Scale shape: inverted index + one count groupBy (partial-agg
    * friendly; no pairwise work at all, so no hub cap is needed — a
    * shingle in a million docs still contributes one count row), then
    * one per-doc count join. */
  /** ExactSubstr-style duplicated-span REMOVAL (the Lee et al. dedup,
    * reshaped set-oriented): any k-token window whose hash occurs more
    * than once corpus-wide keeps its FIRST occurrence (min (doc_id, pos))
    * and every other occurrence's tokens are cut from their documents —
    * partial plagiarism is removed span-by-span, not doc-by-doc.
    *
    * Shape at 100 TB, per stage: positional shingle hashes materialize
    * per-row (transform over the token array, rolling hash inside the
    * lambda — no shuffle); duplicate detection is one count/min groupBy
    * on the hash; coverage needs NO per-token-per-span blowup — dropped
    * spans and tokens union into one stream and a per-doc running
    * max(span_end) window marks covered tokens in a single sort (the
    * gaps-and-islands trick), then one groupBy reassembles. Window and
    * reassembly both partition by doc_id — never a global reducer.
    *
    * Operates on the normalized token stream (the same view every other
    * dedup operator hashes); a production pass would map kept token
    * positions back to raw-text offsets.
    *
    * @return (doc_id, n_tokens, n_removed, clean_text) for every doc
    */
  def removeDuplicatedSpans(docs: DataFrame, k: Int): DataFrame = {
    val tokd = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .localCheckpoint(eager = true) // two consumers: occurrences + tokens
    // positional k-shingles: pos = 0-based first-token index; docs with
    // fewer than k tokens emit none (nothing to deduplicate)
    val occ = tokd.select(col("doc_id"),
        explode(when(size(col("toks")) < k,
            array().cast("array<struct<pos:int,h:bigint>>"))
          .otherwise(transform(sequence(lit(0), size(col("toks")) - k),
            i => struct(i.cast("int").as("pos"),
              rollingHash(array_join(slice(col("toks"), i + 1, lit(k)), " "))
                .as("h"))))).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.h").as("h"))
    val dup = occ.groupBy("h")
      .agg(count(lit(1)).as("c"),
        min(struct(col("doc_id").as("d"), col("pos").as("p"))).as("fo"))
      .filter(col("c") >= 2)
    val drops = occ.join(dup, "h")
      .filter(!(col("fo.d") === col("doc_id") && col("fo.p") === col("pos")))
      .select(col("doc_id"), col("pos").as("p"), (col("pos") + k).as("e"))
    val toksTbl = tokd.select(col("doc_id"),
      posexplode(col("toks")).as(Seq("p", "tok")))
    // one stream: span starts (is_tok=0, ordered before the token at the
    // same position) and tokens; running max(e) = current coverage
    val stream = drops
      .select(col("doc_id"), col("p"), col("e"), lit(0).as("is_tok"),
        lit(null).cast("string").as("tok"))
      .unionByName(toksTbl.select(col("doc_id"), col("p"),
        lit(null).cast("int").as("e"), lit(1).as("is_tok"), col("tok")))
    val w = Window.partitionBy("doc_id").orderBy(col("p"), col("is_tok"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    stream.withColumn("cv", max(col("e")).over(w))
      .filter(col("is_tok") === 1)
      .withColumn("keep", col("cv").isNull || col("cv") <= col("p"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        count(when(!col("keep"), 1)).cast("long").as("n_removed"),
        array_join(transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("p"), col("tok"))))),
          s => s.getField("tok")), " ").as("clean_text"))
  }

  def duplicatedSpanStats(docs: DataFrame, k: Int): DataFrame = {
    val sh = docs.select(col("doc_id"), shingleHashes(col("text"), k).as("hashes"))
    val inv = sh.select(col("doc_id"), explode(col("hashes")).as("h"))
    // shingleHashes is per-doc distinct, so count(*) >= 2 means >= 2 docs
    val dup = inv.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("h")
    val nd = inv.join(dup, "h").groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup"))
    sh.select(col("doc_id"), size(col("hashes")).cast("long").as("n_shingles"))
      .join(nd, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_dup"), lit(0L)).cast("long").as("n_dup"))
      .withColumn("dup_frac",
        round(col("n_dup").cast("double") / col("n_shingles"), 4))
  }

  /** CONTENT-DEFINED chunking dedup (the rsync/LBFS boundary trick, the
    * FastCDC family): cut each document at positions where the rolling
    * hash of the trailing `window` characters lands in residue class 0
    * mod `modulus` — boundaries move WITH the content, so an insertion
    * reshapes only the chunks it touches, where fixed-size blocks would
    * shift every downstream block. Chunk fingerprints then feed
    * chunk-LEVEL dedup: a document's `dup_chunk_frac` is the share of
    * its chunks whose fingerprint also appears in ANOTHER document —
    * the shift-robust shared-content screen whole-doc hashing can't
    * give (expected chunk length ≈ `modulus` chars).
    *
    * Scale shape: boundary detection and chunk fingerprinting run in
    * the ONE-pass codegen'd [[org.apache.spark.sql.graft.CdcChunkHashes]]
    * kernel (incremental trailing-window hash, O(len) per row — the
    * HOF spelling's O(len·window) substring churn measured 64s at
    * sf0.1); no chunk strings are ever shuffled — only their hashes
    * explode, and the corpus-level work is ONE fingerprint groupBy
    * plus the stats join back. Empty documents emit nothing. Returns
    * (doc_id, n_chunks, n_dup_chunks, dup_chunk_frac). */
  def cdcChunks(docs: DataFrame, window: Int = 8,
      modulus: Int = 64): DataFrame = {
    require(window > 0 && modulus > 0, "window and modulus must be positive")
    val txt = col("text")
    val len = length(txt)
    val fps = GraftExpressions.col(
      org.apache.spark.sql.graft.CdcChunkHashes(
        GraftExpressions.expr(txt), window, modulus))
    val ch = docs.filter(len > 0).select(col("doc_id"), explode(fps).as("fp"))
    val dupFps = ch.groupBy("fp")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("fp")
    ch.join(dupFps.withColumn("isdup", lit(1L)), Seq("fp"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("isdup"), lit(0L))).as("n_dup_chunks"))
      .withColumn("dup_chunk_frac",
        round(col("n_dup_chunks").cast("double") / col("n_chunks"), 4))
  }

  /** Pairs (a,b), a<b, with n-gram Jaccard ≥ threshold, via an inverted
    * index on shingle hashes. `maxDocFreq` drops shingles appearing in
    * more than that many docs (hub/stopword shingles) — bounds the
    * candidate blow-up at scale while keeping recall for near-dups. */
  def ngramJaccardPairs(docs: DataFrame, k: Int, threshold: Double,
      maxDocFreq: Int = 1000): DataFrame = {
    val sh = docs.select(col("doc_id"),
      shingleHashes(col("text"), k).as("hashes"))
    val sizes = sh.select(col("doc_id"), size(col("hashes")).as("n"))
    val inv = sh.select(col("doc_id"), explode(col("hashes")).as("h"))
    val rare = inv.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq && col("df") >= 2)
    val invR = inv.join(rare.select("h"), "h")
    // identical subplans on both sides + forced shuffle join -> the
    // inverted index is computed once and its exchange reused (broadcast
    // would re-evaluate the build side; at scale it wouldn't fit anyway)
    val common = invR.as("x").hint("SHUFFLE_MERGE")
      .join(invR.as("y").hint("SHUFFLE_MERGE"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("inter"))
    common
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n", "na"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n", "nb"), "b")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /** Asymmetric CONTAINMENT near-dup pairs — the dedup rule Jaccard
    * structurally misses: a short document EMBEDDED in a long one (a
    * quoted article, a boilerplate-wrapped repost) has tiny Jaccard
    * (|A∩B|/|A∪B| shrinks with the size gap) but containment
    * `|A∩B| / min(|A|, |B|)` ≈ 1 — the measure CC-style web dedup
    * pipelines use alongside resemblance (Broder's containment).
    * Same scale spine as [[ngramJaccardPairs]]: shingle inverted index,
    * df-capped postings (never all-pairs), exact verification on
    * candidates only; `contained` names the smaller (lower-id on a
    * size tie) document of each surviving pair. */
  def containmentPairs(docs: DataFrame, k: Int, threshold: Double,
      maxDocFreq: Int = 1000): DataFrame = {
    val sh = docs.select(col("doc_id"),
      shingleHashes(col("text"), k).as("hashes"))
    val sizes = sh.select(col("doc_id"), size(col("hashes")).as("n"))
    val inv = sh.select(col("doc_id"), explode(col("hashes")).as("h"))
    val rare = inv.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq && col("df") >= 2)
    val invR = inv.join(rare.select("h"), "h")
    val common = invR.as("x").hint("SHUFFLE_MERGE")
      .join(invR.as("y").hint("SHUFFLE_MERGE"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("inter"))
    common
      .join(sizes.withColumnRenamed("doc_id", "a")
        .withColumnRenamed("n", "na"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b")
        .withColumnRenamed("n", "nb"), "b")
      .withColumn("containment",
        round(col("inter").cast("double") / least(col("na"), col("nb")), 4))
      .filter(col("containment") >= threshold)
      .withColumn("contained",
        when(col("na") <= col("nb"), col("a")).otherwise(col("b")))
      .select("a", "b", "containment", "contained")
  }

  /** MinHash signature: for each of `numHashes` permutations i,
    * min over shingle hashes h of (a_i*h + b_i) mod p. The (a_i, b_i)
    * are fixed odd/prime-ish constants so the oracle can replay them. */
  /** Cross-table fuzzy match (entity resolution / record linkage): link
    * each QUERY document to its best CATALOG match by n-gram Jaccard —
    * the A×B variant of [[ngramJaccardPairs]] with the same scale spine:
    * shingle inverted indexes on both sides, candidates only where a
    * shingle co-occurs, a hub-shingle cap over the COMBINED posting list
    * (a hub on either side would explode the candidate join), exact
    * Jaccard verification on candidates only, then a per-query windowed
    * best-match pick (jaccard desc, then lowest id — deterministic).
    * Nothing is all-pairs; per-shingle work is bounded by the cap.
    *
    * @return (query_id, match_id, jaccard) — at most one row per query
    */
  def fuzzyJoin(queries: DataFrame, catalog: DataFrame, k: Int,
      threshold: Double, maxDocFreq: Int = 1000): DataFrame = {
    def sh(df: DataFrame) =
      df.select(col("doc_id"), shingleHashes(col("text"), k).as("hashes"))
    val qsh = sh(queries)
    val csh = sh(catalog)
    val qsz = qsh.select(col("doc_id").as("query_id"), size(col("hashes")).as("nq"))
    val csz = csh.select(col("doc_id").as("match_id"), size(col("hashes")).as("nc"))
    val qinv = qsh.select(col("doc_id").as("query_id"), explode(col("hashes")).as("h"))
    val cinv = csh.select(col("doc_id").as("match_id"), explode(col("hashes")).as("h"))
    val rare = qinv.select(col("h")).unionByName(cinv.select(col("h")))
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq).select("h")
    val common = qinv.join(rare, "h").join(cinv, "h")
      .groupBy("query_id", "match_id").agg(count(lit(1)).as("inter"))
    val scored = common.join(qsz, "query_id").join(csz, "match_id")
      .withColumn("jaccard", round(
        col("inter").cast("double") / (col("nq") + col("nc") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
    val w = Window.partitionBy("query_id")
      .orderBy(col("jaccard").desc, col("match_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("query_id"), col("match_id"), col("jaccard"))
  }

  def minhashCoefs(numHashes: Int): Seq[(Long, Long)] =
    (1 to numHashes).map(i => (2L * i + 1L, 104729L * i % HashP))

  def minhashSignature(text: Column, k: Int, numHashes: Int): Column = {
    val hs = shingleHashes(text, k)
    val sig = minhashCoefs(numHashes).map { case (a, b) =>
      array_min(transform(hs, h => (h * a + b) % HashP))
    }
    array(sig: _*)
  }

  /** (doc_id, sig) in ONE codegen'd pass per row: the
    * [[org.apache.spark.sql.graft.MinhashSig]] kernel folds shingle
    * hashing directly into the per-permutation minima — no intermediate
    * array, no explode, no shuffle. Value-identical to the per-row array
    * spelling ([[minhashSignature]]), which re-evaluates the interpreted
    * shingle pipeline per signature slot and is kept as the executable
    * spec. */
  def minhashSignatures(docs: DataFrame, k: Int, numHashes: Int): DataFrame = {
    val coefs = minhashCoefs(numHashes)
    docs.select(col("doc_id"),
      GraftExpressions.col(org.apache.spark.sql.graft.MinhashSig(
        GraftExpressions.expr(tokens(col("text"))), k,
        coefs.map(_._1), coefs.map(_._2))).as("sig"))
  }

  /** Banded minhash signatures (doc_id, sig, band, bucket) — the shared
    * LSH keying of [[minhashLshPairs]]/[[minhashIncremental]] and the
    * streaming screen, and the layout of the PERSISTED base-signature
    * table ([[graft.store.GraphTables.lshBase16x4]]). */
  def bandedSignatures(docs: DataFrame, k: Int, numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0)
    val rows = numHashes / bands
    minhashSignatures(docs, k, numHashes).select(col("doc_id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => array_join(slice(col("sig"), b * rows + 1, lit(rows)), "_"))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** LSH candidate pairs from banded minhash signatures: docs agreeing on
    * all rows of any band collide. Returns (a, b, est_jaccard) where
    * est = fraction of matching signature positions, rounded. */
  def minhashLshPairs(docs: DataFrame, k: Int, numHashes: Int, bands: Int,
      threshold: Double): DataFrame = {
    require(numHashes % bands == 0)
    val rows = numHashes / bands
    val sig = minhashSignatures(docs, k, numHashes)
    val banded = sig.select(col("doc_id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => array_join(slice(col("sig"), b * rows + 1, lit(rows)), "_"))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    // forced shuffle join: both sides are the same banded-signature plan,
    // so the exchange is computed once and reused (signatures hash once)
    val cand = banded.as("x").hint("SHUFFLE_MERGE")
      .join(banded.as("y").hint("SHUFFLE_MERGE"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.sig").as("siga"), col("y.sig").as("sigb"))
      .dropDuplicates("a", "b")
    cand.withColumn("est_jaccard",
        round(size(filter(zip_with(col("siga"), col("sigb"), (x, y) =>
          when(x === y, 1).otherwise(0)), v => v === 1)).cast("double") / numHashes, 4))
      .filter(col("est_jaccard") >= threshold)
      .select("a", "b", "est_jaccard")
  }

  /** INCREMENTAL MinHash-LSH near-dup screening — the
    * continuous-ingestion twin of [[minhashLshPairs]] ([[incremental]]
    * is the exact-hash version): an arriving `batch` screens against
    * the already-ingested `base` through shared (band, bucket) keys, so
    * the per-ingest cost is O(batch·bands + collisions) — the base's
    * banded signatures are the precomputed/persisted side at scale
    * (here derived in-plan from the same kernel; production stores them
    * the way ccprev stores CC labels). Returns every batch doc as
    * (doc_id, n_base_hits, kept): kept = 1 when NO base doc matches at
    * `threshold` (novel content), n_base_hits = how many base
    * near-dups screened it out. */
  def minhashIncremental(base: DataFrame, batch: DataFrame, k: Int,
      numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    def banded(df: DataFrame) = bandedSignatures(df, k, numHashes, bands)
    val est = round(size(filter(zip_with(col("siga"), col("sigb"), (x, y) =>
      when(x === y, 1).otherwise(0)), v => v === 1)).cast("double")
      / numHashes, 4)
    val hits = banded(batch).as("x")
      .join(banded(base).as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket"))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("base_id"),
        col("x.sig").as("siga"), col("y.sig").as("sigb"))
      .dropDuplicates("doc_id", "base_id")
      .withColumn("est", est)
      .filter(col("est") >= threshold)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_base_hits"))
    batch.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_base_hits"), lit(0L)).as("n_base_hits"),
        col("n_base_hits").isNull.cast("int").as("kept"))
  }

  /** Dup-CLUSTER formation — the shape a real dedup run ships: near-dup
    * pairs are only evidence; transitively-connected docs form one
    * cluster with a canonical keeper (min doc_id), singletons keep
    * themselves. Pairs via [[minhashLshPairs]], clusters via undirected
    * min-label propagation (Analytics.connectedComponents) — both
    * bucketed/iterative, nothing all-pairs. */
  def dupClusters(docs: DataFrame, k: Int, numHashes: Int, bands: Int,
      threshold: Double): DataFrame = {
    val pairs = minhashLshPairs(docs, k, numHashes, bands, threshold)
      .select(col("a").as("src"), col("b").as("dst"))
    // bounded driver union-find kernel (r13): near-dup pair graphs are
    // a vanishing fraction of the corpus by construction, so the q59
    // probe discipline applies — distributed fallback above the budget.
    // Eager pin: the probe and the fallback both read the pairs.
    val cc = graft.enrich.Analytics
      .connectedComponents(pairs.pin(eager = true))
      .select(col("v").as("doc_id"), col("component").as("keeper"))
    docs.select(col("doc_id")).join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("keeper"), col("doc_id")).as("keeper"))
  }

  /** BLOOM-gated incremental dedup — the sketch-sized alternative to
    * [[incremental]]'s anti-join when the base corpus is huge: the base
    * collapses to a ≤`mBits`-row bit set (k=2 integer hash positions per
    * fingerprint) that BROADCASTS, so screening a new batch costs two
    * broadcast probes and zero shuffles of the base — the membership
    * screen a 100 TB ingest runs before paying the exact check. One-
    * sided by construction: NO false negatives (a true dup always hits
    * both its bits), false positives at the classic (1−e^(−kn/m))^k
    * rate get re-checked downstream. Emits both the Bloom verdict and
    * the exact one (the gate pins the no-false-negative invariant and
    * the false-positive accounting); production keeps only `maybe_dup`
    * and routes hits to the exact path. All hashes are the engine-
    * portable rolling hash — the filter is REPLAYABLE, not a binary
    * blob, so any engine (or the oracle) can rebuild bit-for-bit. */
  private def bloomH(df: DataFrame): DataFrame = {
    import graft.functions.TextFunctions
    df.select(col("doc_id"),
      TextFunctions.rollingHash(TextFunctions.normalize(col("text"))).as("h"))
  }
  private def bloomP1(c: Column, mBits: Int): Column = c % mBits
  private def bloomP2(c: Column, mBits: Int): Column =
    ((c * 1103515245L + 12345L) % 2147483647L) % mBits

  /** Build the ≤`mBits`-row bit set from the base corpus — the BUILD-ONCE
    * half of the Bloom screen: one aggregation over the base, persisted
    * as a derived table (the knngraph5/scclabels shape) and re-read per
    * ingest batch, so the per-batch screen touches the base ZERO times. */
  def bloomBits(base: DataFrame, mBits: Int = 4096): DataFrame =
    bloomH(base)
      .select(explode(array(bloomP1(col("h"), mBits),
        bloomP2(col("h"), mBits))).as("bit"))
      .distinct().withColumn("present", lit(1))

  /** SCREEN-ONLY path — the shape production actually runs per batch:
    * probe a PREBUILT bit set (from [[bloomBits]], typically a parquet
    * scan of the persisted filter) with two broadcast joins. The batch
    * never shuffles and the base is never touched — the physical plan is
    * scan → broadcast-probe → broadcast-probe with no hash Exchange
    * (PlanShapeSpec pins this). Emits (doc_id, h, maybe_dup); hits route
    * to [[bloomVerify]] for the exact check. */
  def bloomScreen(bits: DataFrame, batch: DataFrame,
      mBits: Int = 4096): DataFrame =
    bloomH(batch)
      .select(col("doc_id"), col("h"),
        bloomP1(col("h"), mBits).as("b1"), bloomP2(col("h"), mBits).as("b2"))
      .join(broadcast(bits.select(col("bit").as("b1"),
        col("present").as("m1"))), Seq("b1"), "left")
      .join(broadcast(bits.select(col("bit").as("b2"),
        col("present").as("m2"))), Seq("b2"), "left")
      .select(col("doc_id"), col("h"),
        (col("m1").isNotNull && col("m2").isNotNull).cast("int").as("maybe_dup"))

  /** EXACT verification of screen survivors: only rows the Bloom screen
    * flagged (`maybe_dup = 1` — an FP-rate-sized subset, not the batch)
    * join base fingerprints; screen misses are true negatives by the
    * filter's no-false-negative guarantee and never touch the base. */
  def bloomVerify(baseH: DataFrame, screened: DataFrame): DataFrame = {
    val hits = screened.filter(col("maybe_dup") === 1)
      .join(baseH.select(col("h")).distinct().withColumn("t", lit(1)),
        Seq("h"), "left")
      .select(col("doc_id"), col("maybe_dup"),
        col("t").isNotNull.cast("int").as("true_dup"))
    val misses = screened.filter(col("maybe_dup") === 0)
      .select(col("doc_id"), col("maybe_dup"),
        lit(0).cast("int").as("true_dup"))
    hits.unionByName(misses)
  }

  def bloomDedup(base: DataFrame, batch: DataFrame,
      mBits: Int = 4096): DataFrame =
    bloomVerify(bloomH(base), bloomScreen(bloomBits(base, mBits), batch, mBits))

  /** SOFT dedup — down-WEIGHT duplicates instead of dropping them (the
    * SoftDeDup idea: hard removal loses the signal that popular text
    * carries, uniform keeping over-trains on it; weighting each doc by
    * 1/|its near-dup cluster| makes every cluster contribute exactly one
    * document's worth of expected training mass). Clusters via
    * [[dupClusters]] (banded LSH + min-label CC — never all-pairs);
    * weights are integer ppm (1000000 div size), ready for
    * [[graft.pipeline.Corpus.epochRepeat]]'s ppm contract downstream.
    * One extra tiny groupBy+join on the cluster table. */
  def softDedupWeights(docs: DataFrame, k: Int, numHashes: Int, bands: Int,
      threshold: Double): DataFrame = {
    val clusters = dupClusters(docs, k, numHashes, bands, threshold)
    val sizes = clusters.groupBy("keeper")
      .agg(count(lit(1)).as("cluster_size"))
    clusters.join(sizes, "keeper")
      .select(col("doc_id"), col("keeper"),
        col("cluster_size").cast("long").as("cluster_size"),
        expr("1000000 div cluster_size").cast("long").as("weight_ppm"))
  }

  /** Second 31-bit hash stream for the 62-bit SimHash: an affine remap of
    * the token rolling hash, so each token contributes 62 usable bits. */
  val SimhashA2 = 1000003L
  val SimhashB2 = 8191L
  val SimhashBits = 62

  /** 62-bit SimHash over token rolling-hashes: bit j (j < 31) is set iff
    * sum over tokens of (+1 if bit j of h1(token) else -1) > 0, and bit
    * 31+j likewise from h2 = (h1·a2 + b2) mod p. 32 bits proved
    * non-discriminative on a shared-vocabulary corpus (half of all pairs
    * within Hamming 6); 62 bits makes near-dup selective. HOF spelling —
    * the executable spec [[simhashSignatures]] is tested against. */
  def simhash(text: Column): Column = {
    val toks = tokens(text)
    val hashes = transform(toks, t => rollingHash(t))
    val hashes2 = transform(hashes, h => (h * SimhashA2 + SimhashB2) % HashP)
    val lo = (0 until 31).map { j =>
      when(
        aggregate(hashes, lit(0L),
          (s, h) => s + when(shiftright(h, j) % 2 === 1, 1L).otherwise(-1L)) > 0,
        lit(1L << j)).otherwise(lit(0L))
    }
    val hi = (0 until 31).map { j =>
      when(
        aggregate(hashes2, lit(0L),
          (s, h) => s + when(shiftright(h, j) % 2 === 1, 1L).otherwise(-1L)) > 0,
        lit(1L << (j + 31))).otherwise(lit(0L))
    }
    (lo ++ hi).reduce(_ + _)
  }

  /** (doc_id, sig) in ONE codegen'd pass per row via
    * [[org.apache.spark.sql.graft.SimhashSig]]: per-token rolling hashes
    * and all 62 bit counters accumulate in a single loop — no explode, no
    * shuffle. Value-identical to [[simhash]] (the HOF spec). */
  def simhashSignatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      GraftExpressions.col(org.apache.spark.sql.graft.SimhashSig(
        GraftExpressions.expr(tokens(col("text"))), SimhashA2, SimhashB2))
        .as("sig"))

  /** SimHash near-dup pairs: candidates share one of the four 16-bit
    * sub-bands of the 62-bit signature; verified by Hamming ≤ maxHamming
    * (bit_count of the XOR — codegen'd builtin, same in DuckDB). */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    val sig = simhashSignatures(docs)
    val banded = sig.select(col("doc_id"), col("sig"),
      posexplode(array((0 until 4).map(b => shiftright(col("sig"), b * 16) % 65536): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    // same shuffle-reuse rationale as minhashLshPairs
    val cand = banded.as("x").hint("SHUFFLE_MERGE")
      .join(banded.as("y").hint("SHUFFLE_MERGE"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.sig").as("siga"), col("y.sig").as("sigb"))
      .dropDuplicates("a", "b")
    cand
      .withColumn("hamming",
        bit_count(col("siga").bitwiseXOR(col("sigb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("a", "b", "hamming")
  }
}
