package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions
import graft.sources.ParquetSource
import graft.sql.Stable._

/** Text analysis + deduplication over `documents` (SURVEY.md §3.11 T1–T7 and
  * the north-star dedup family: exact, MinHash+LSH, n-gram Jaccard, SimHash).
  *
  * Reference context: the reference's only text processing is wiki-link
  * extraction + code normalization (`src/tropology/parsing.clj` /
  * `base.clj`, public repo); the dedup/similarity operators are north-star
  * additions for LLM-data pipelines.
  *
  * Design for 100 TB:
  *   - everything is built from codegen'd Catalyst expressions (HOFs over
  *     token arrays — no UDFs, no Python);
  *   - near-dup search NEVER does all-pairs: MinHash band buckets (t4, t5)
  *     shrink the candidate set to same-bucket pairs, then exact Jaccard is
  *     computed only for candidates (candidate-first join order);
  *   - hashes are md5-based and engine-portable, so the same pipeline is
  *     expressible in ANSI SQL for the DuckDB oracle; Spark's `xxhash64`
  *     is cheaper for pure-Spark runs, with the same structure;
  *   - per-doc signatures (simhash, minhash bands) are one groupBy each —
  *     a single shuffle keyed by doc_id, which AQE coalesces.
  */
object TextDedup extends QueryPack {

  /** Distinct word-`n`-gram ("shingle") per (doc_id, shingle) pair.
    * `sequence(1, size-n+1)` enumerates start positions; docs shorter than
    * `n` tokens are dropped (both engines filter identically).
    */
  /** t25's per-doc repetition metrics + keep gate (shared by the batch
    * query and the t27 streaming gate — per-doc only, NO cross-doc state,
    * so the decision is batch-boundary invariant by construction and the
    * stream must land exactly the batch result). See the t25 entry for
    * the metric/threshold rationale and the scale shape.
    */
  private def repetitionMetrics(docs: DataFrame): DataFrame = {
    val t = split(col("text"), " ")
    val base = docs.select(col("doc_id"), size(t).as("n"), t.as("tk"))
    val tokTop = base.select(col("doc_id"), explode(col("tk")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_tok"), count(lit(1)).as("n_uniq"))
    val g2Top = base.filter(col("n") >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), col("n") - 1),
        i => concat_ws(" ", slice(col("tk"), i, lit(2))))).as("gm"))
      .groupBy(col("doc_id"), col("gm")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top2"))
    base.drop("tk")
      .join(tokTop, Seq("doc_id"))
      .join(g2Top, Seq("doc_id"))
      .select(col("doc_id"), col("n").as("n_tokens"),
        round(col("n_uniq") / col("n"), 6).as("uniq_ratio"),
        round(col("top_tok") / col("n"), 6).as("top_tok_frac"),
        round(col("top2") * 2 / col("n"), 6).as("top2_frac"))
      .withColumn("keep",
        (col("uniq_ratio") >= 0.35 && col("top_tok_frac") <= 0.12 &&
          col("top2_frac") <= 0.10).cast("int"))
  }

  private def shingles(docs: DataFrame, n: Int): DataFrame = {
    val t = split(col("text"), " ")
    docs
      .filter(size(t) >= n)
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(1), size(t) - (n - 1)),
          i => concat_ws(" ", slice(t, i, lit(n)))))).as("sh"))
  }

  /** MinHash band keys: `nHashes` minhash functions per doc, derived as
    * 8-hex-digit SLICES of md5(shingle) (and md5('x'|shingle) when more
    * than 4 are needed) — one or two md5 evaluations per shingle instead
    * of one per (shingle, seed), which is the dominant cost of the
    * signature stage. Each slice is converted to a LONG before the min-agg:
    * `min` over longs has a mutable hash-agg buffer, so the signature stage
    * plans HashAggregate (string `min` would force SortAggregate — two
    * extra sorts per stage). Fixed-width lowercase hex is order-isomorphic
    * to its numeric value, so the minima are the same ones the string form
    * produced. Consecutive pairs of minhashes form bands (classic LSH
    * banding); docs sharing any band key are near-dup candidates.
    */
  /** Per-doc minhash signature (doc_id, mh0..mh{nHashes−1}) — the md5-slice
    * derivation documented at [[bandKeys]]; shared by the banding stage and
    * the t32 estimate-vs-truth audit.
    */
  private def signatures(sh: DataFrame, nHashes: Int): DataFrame = {
    require(nHashes <= 8)
    val m0 = md5(col("sh"))
    val m1 = md5(concat(lit("x"), col("sh")))
    def slice(i: Int): Column = {
      val src = if (i < 4) m0 else m1
      conv(substring(src, 1 + 8 * (i % 4), 8), 16, 10).cast("long")
    }
    val mins = (0 until nHashes).map(i => min(slice(i)).as(s"mh$i"))
    sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  private def bandKeys(sh: DataFrame, nHashes: Int, bandSize: Int): DataFrame = {
    require(nHashes % bandSize == 0 && nHashes <= 8 && bandSize == 2)
    val perDoc = signatures(sh, nHashes)
    val bands = (0 until nHashes / bandSize).map { b =>
      struct(lit(b.toLong).as("band"),
        concat_ws("|", col(s"mh${2 * b}"), col(s"mh${2 * b + 1}")).as("band_key"))
    }
    perDoc.select(col("doc_id"), explode(array(bands: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.band_key"))
  }

  /** Per-band bucket cap: keep at most `cap` docs (lowest doc_id first) per
    * (band, band_key) bucket before pair generation. Without this a
    * degenerate hot band — every boilerplate page sharing one signature —
    * is quadratic within its bucket; with it the candidate count per bucket
    * is bounded by cap·(cap−1)/2 no matter how hot the bucket gets. The cap
    * is mirrored in the oracle SQL, so results stay engine-identical even
    * when it binds. Uses the [[graft.plans.TopKPerKey]] operator (bounded
    * per-key state, spill-safe fallback) rather than a rank window.
    */
  private[queries] def capBuckets(bands: DataFrame, cap: Int): DataFrame =
    graft.plans.TopKPerKey(bands, Seq("band", "band_key"), Seq("doc_id" -> true), cap)

  /** Max docs considered per LSH band bucket (see [[capBuckets]]); above the
    * hottest fixture bucket, so fixture results are unchanged.
    */
  private[queries] val BucketCap = 64

  /** t37's fixed rank-ordered merge table: the eight most common English
    * bigrams, applied in list order. All pairs are single-char symbols,
    * so every merged symbol is 2 chars and atomic to later ranks —
    * exactly the first 8 rounds of a character-BPE trainer's merge list.
    */
  private val BpeMerges = Seq("th", "he", "in", "er", "an", "re", "on", "at")

  /** t39's merge-table size: small fixed k (each round is a full pair
    * census + vocab rewrite; the oracle replays every round CTE-by-CTE,
    * so k also bounds the oracle's CTE chain).
    */
  private val BpeTrainRounds = 8

  /** Per-doc BPE token accounting shared by t37 (apply + compression) and
    * t38 (token-budget shard packing): greedy left-to-right application of
    * [[BpeMerges]] in rank order, folded over the DISTINCT vocab only
    * (cost ∝ Σ|word| over the vocab, not the corpus), then joined back to
    * per-doc word multiplicities. The fold carries the segmentation as a
    * sentinel-delimited string "|c|c|…|" — one '|' per symbol boundary;
    * symbols are [a-z] so the sentinel can never occur inside one — and a
    * merge fires only on an exact symbol-boundary match (endswith '|p1|'
    * and next symbol = p2), so freshly merged symbols stay atomic to later
    * ranks, exactly the greedy BPE tiling. Returns one row per doc with at
    * least one [a-z]+ word: (doc_id, n_words, n_chars, n_symbols).
    */
  private def bpeDocSymbols(s: SparkSession, d: String): DataFrame = {
    val words = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
    val wc = words.groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
    var vocab = words.select("word").distinct().withColumn("seg",
      concat(lit("|"), regexp_replace(col("word"), "(.)", "$1|")))
    BpeMerges.foreach { p =>
      val (p1, p2) = (p.substring(0, 1), p.substring(1, 2))
      vocab = vocab.withColumn("seg", expr(
        s"""aggregate(filter(split(seg, '[|]'), x -> x != ''), '|',
           |  (acc, x) -> CASE WHEN endswith(acc, '|$p1|') AND x = '$p2'
           |    THEN concat(left(acc, length(acc) - 2), '$p1$p2|')
           |    ELSE concat(acc, x, '|') END)""".stripMargin))
    }
    val segged = vocab.withColumn("n_syms",
      size(filter(split(col("seg"), "[|]"), x => x =!= lit(""))).cast("long"))
    wc.join(segged, Seq("word"))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_words"),
        sum(length(col("word")).cast("long") * col("cnt")).as("n_chars"),
        sum(col("n_syms") * col("cnt")).as("n_symbols"))
  }

  /** t39/t40's shared training loop: k = [[BpeTrainRounds]] rounds of
    * count-top-pair → greedy merge → recount over the Zipf-collapsed
    * DISTINCT vocabulary (doubled-delimiter symbol form — see the t39
    * query comment). Returns (the learned merge table with its
    * at-selection pair counts, the FINAL segmented vocab (word, n, seg)
    * — i.e. the corpus tokenization under all k merges).
    */
  private def bpeTrain(s: SparkSession, d: String)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    var vocab = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .withColumn("seg", regexp_replace(col("word"), "(.)", "|$1|"))
      .localCheckpoint(false)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 1 to BpeTrainRounds) {
      val top = vocab
        .select(col("n"),
          expr("filter(split(seg, '[|]+'), x -> x != '')").as("syms"))
        .filter(size(col("syms")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(element_at(syms, i) AS s1, element_at(syms, i + 1) AS s2))"))
          .as("p"))
        .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
        .agg(sum(col("n")).as("np"))
        .orderBy(col("np").desc, col("s1").asc, col("s2").asc)
        .limit(1).collect()
      require(top.nonEmpty,
        s"bpeTrain: vocabulary ran out of pairs at round $r — corpus too small for k=$BpeTrainRounds")
      val (s1, s2, np) = (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
      // Learned symbols are [a-z]+ by construction (the word filter);
      // required before embedding them as expression literals.
      require(s1.matches("[a-z]+") && s2.matches("[a-z]+"),
        s"bpeTrain: bad symbol '$s1'/'$s2'")
      merges += ((r, s1, s2, np))
      vocab = vocab.withColumn("seg",
        expr(s"replace(seg, '|$s1||$s2|', '|$s1$s2|')")).localCheckpoint(false)
    }
    (merges.result(), vocab)
  }

  /** t39/t40's shared ORACLE chain: DuckDB replay of [[bpeTrain]]'s k
    * rounds CTE-by-CTE — pair census over the doubled-delimiter
    * segmentation, deterministic top-1 (count DESC, s1, s2), replace()
    * rewrite with the learned literal threaded through a 1-row cross
    * join — ending in top1..top_k and the final vocab v_k.
    */
  private lazy val BpeTrainOracleChain: String = {
    val rounds = (1 to BpeTrainRounds).map { i =>
      s"""pc$i AS (
         |  SELECT s.syms[u.i] AS s1, s.syms[u.i + 1] AS s2, SUM(v.n) AS np
         |  FROM v${i - 1} v,
         |    LATERAL (SELECT list_filter(string_split(v.seg, '|'), x -> x <> '') AS syms) s,
         |    LATERAL (SELECT UNNEST(range(1, len(s.syms))) AS i) u
         |  GROUP BY 1, 2
         |), top$i AS (
         |  SELECT s1, s2, np FROM pc$i ORDER BY np DESC, s1 ASC, s2 ASC LIMIT 1
         |), v$i AS (
         |  SELECT v.word, v.n,
         |    replace(v.seg, '|' || t.s1 || '||' || t.s2 || '|',
         |            '|' || t.s1 || t.s2 || '|') AS seg
         |  FROM v${i - 1} v, top$i t
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH words AS (
       |  SELECT unnest(string_split(text, ' ')) AS word FROM documents
       |), v0 AS (
       |  SELECT word, COUNT(*) AS n,
       |    regexp_replace(word, '(.)', '|\\1|', 'g') AS seg
       |  FROM words WHERE regexp_matches(word, '^[a-z]+$$') GROUP BY word
       |),
       |$rounds""".stripMargin
  }

  /** The t37/t38 oracle's shared CTE chain: DuckDB replay of
    * [[bpeDocSymbols]] — the identical greedy fold via list_reduce over
    * the distinct vocab, ending in a `docsyms` per-doc table.
    */
  private lazy val BpeOracleDocsyms: String = {
    val stages = BpeMerges.zipWithIndex.map { case (p, i) =>
      val (p1, p2) = (p.substring(0, 1), p.substring(1, 2))
      val prev = if (i == 0) "seg0" else s"s$i"
      s"""s${i + 1} AS (
         |  SELECT word, list_reduce(
         |    list_prepend('|', list_filter(string_split(seg, '|'), x -> x <> '')),
         |    (acc, x) -> CASE WHEN ends_with(acc, '|$p1|') AND x = '$p2'
         |      THEN left(acc, length(acc) - 2) || '$p1$p2|'
         |      ELSE acc || x || '|' END) AS seg
         |  FROM $prev
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH words AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
       |), ok AS (
       |  SELECT doc_id, word FROM words WHERE regexp_matches(word, '^[a-z]+$$')
       |), wc AS (
       |  SELECT doc_id, word, COUNT(*) AS cnt FROM ok GROUP BY doc_id, word
       |), seg0 AS (
       |  SELECT DISTINCT word, '|' || regexp_replace(word, '(.)', '\\1|', 'g') AS seg FROM ok
       |), $stages, segged AS (
       |  SELECT word, len(list_filter(string_split(seg, '|'), x -> x <> '')) AS n_syms
       |  FROM s${BpeMerges.size}
       |), docsyms AS (
       |  SELECT w.doc_id,
       |    CAST(SUM(w.cnt) AS BIGINT) AS n_words,
       |    CAST(SUM(length(w.word) * w.cnt) AS BIGINT) AS n_chars,
       |    CAST(SUM(s.n_syms * w.cnt) AS BIGINT) AS n_symbols
       |  FROM wc w JOIN segged s ON w.word = s.word GROUP BY w.doc_id
       |)""".stripMargin
  }

  /** t19's edit-distance bound: candidates farther than this are not
    * near-dups and are dropped BEFORE the full DP cost is paid (Spark's
    * threshold levenshtein early-abandons at O(len·MaxEdit)). Mirrored in
    * the oracle SQL.
    */
  private[queries] val MaxEdit = 64

  /** Every document reduced to (doc_id, lang, keep, fp, n_tok): the
    * curation base e6 (pipeline) and e7 (lineage) each build for their own
    * query. The repetition-metrics chain and the text hashing run once per
    * query, and the query's several consumers read the ~30-byte-row
    * checkpoint instead of re-executing the two explode→count→max
    * aggregations per reference (plan lint: e6 was 20 exchanges, e7 25,
    * from exactly this recompute).
    */
  private def curationBase(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val metrics = repetitionMetrics(docs).select(col("doc_id").as("mid"), col("keep"))
    docs.join(metrics, col("doc_id") === col("mid")).drop("mid")
      .select(col("doc_id"), col("lang"), col("keep"),
        md5(col("text")).as("fp"),
        size(split(col("text"), " ")).as("n_tok"))
      // Eager (r16): e6/e7 each read this 3+ times (keeper derivation,
      // counts, fate join) before their single action (policy).
      .localCheckpoint()
  }

  /** The word-`n`-gram shingles and the capped band keys of every
    * document, built for the calling query. EAGER checkpoints (round 16,
    * the LinkGraph eagerness policy): each frame is consumed by MULTIPLE
    * branches of one downstream action with no action in between — sh by
    * banding AND the caller's [[docSets]], the capped bands by both legs
    * of the candidate self-join. Lazily, concurrent consuming stages on a
    * real cluster can each compute the frame before any block is
    * published; the eager job guarantees exactly-once materialization
    * before the fan-out (ADVICE r15). Bench evidence for the lazy risk:
    * t21's same-shaped lazy frames measured 2.2x in BENCH_r15.
    */
  private def lshSig(s: SparkSession, d: String, n: Int, nHashes: Int)
      : (DataFrame, DataFrame) = {
    val sh = shingles(Tables.documents(s, d), n).localCheckpoint()
    (sh, cappedBands(sh, nHashes))
  }

  /** The capped band keys of the shingles `sh`, eagerly checkpointed for
    * the two legs of the candidate self-join. `sh` need not be
    * materialized when banding is its only reader (t19).
    */
  private def cappedBands(sh: DataFrame, nHashes: Int): DataFrame =
    capBuckets(bandKeys(sh, nHashes, bandSize = 2), BucketCap).localCheckpoint()

  private def lsh3(s: SparkSession, d: String): (DataFrame, DataFrame) =
    lshSig(s, d, n = 3, nHashes = 8)

  /** 20-token blocks of each document — the sub-document dedup unit for
    * t22/t23 ("paragraphs" for newline-free text; the machinery is
    * unit-agnostic). One row per (doc_id, block index, block text); the
    * last block keeps whatever tokens remain (both engines' list slicing
    * clips identically). ceil(n/20) via truncating division — counts are
    * positive.
    */
  private def docBlocks(docs: DataFrame): DataFrame = {
    val t = split(col("text"), " ")
    val nBlocks = ((size(t) + lit(19)) / lit(20)).cast("int")
    docs.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), nBlocks - 1),
        b => concat_ws(" ", slice(t, b * 20 + 1, lit(20))))))
      .select(col("doc_id"), col("pos").cast("long").as("b"), col("col").as("blk"))
  }

  /** t35's window width: long enough that a repeat is memorization, not
    * chance, short enough that the fixture corpus (10..99-token docs)
    * carries real cross-doc repeats. (The ExactSubstr paper's production
    * setting is a 50-BPE-token window — proportionally longer because
    * its documents are, too; the machinery is width-agnostic.) Mirrored
    * in the oracle SQL.
    */
  private[queries] val SpanW = 15

  /** (doc_id, start, md5(window)) for every length-`w` token window —
    * span TEXT never leaves the projection that hashes it, so the
    * downstream shuffles carry (hash, position) pairs only.
    */
  private def spanHashes(docs: DataFrame, w: Int): DataFrame = {
    val t = split(col("text"), " ")
    docs.filter(size(t) >= w)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(t) - (w - 1)),
          i => md5(concat_ws(" ", slice(t, i, lit(w)))))))
      .select(col("doc_id"), col("pos").cast("long").as("p"), col("col").as("sh"))
  }

  /** Mask-union census shared by t35/t36: given per-doc cut-start
    * positions ((doc_id, p) rows — each cuts tokens [p, p+w)), remove
    * every covered token and emit (doc_id, n_tokens, n_removed,
    * kept_hash) over ALL `docs`. The mask is a per-doc higher-order
    * function — no token-level shuffle or explode.
    */
  private def spanMaskCensus(docs: DataFrame, cuts: DataFrame, w: Int): DataFrame = {
    val cutStarts = cuts.groupBy(col("doc_id"))
      .agg(collect_list(col("p")).as("starts"))
    docs.join(cutStarts, Seq("doc_id"), "left")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("starts",
        coalesce(col("starts"), expr("CAST(array() AS ARRAY<BIGINT>)")))
      .withColumn("kept", filter(col("toks"), (tok, i) =>
        !exists(col("starts"), s => s <= i.cast("long") && i.cast("long") < s + lit(w.toLong))))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"),
        when(size(col("kept")) > 0,
          md5(concat_ws(" ", col("kept")))).as("kept_hash"))
      .orderBy("doc_id")
  }

  /** Repeated-span dedup census (t35) over any (doc_id, text) frame — the
    * core is separate from the query so specs can drive handcrafted
    * corpora. See the t35 entry for semantics (mask-union cut of every
    * non-first occurrence of a duplicated `w`-token window).
    */
  private[graft] def spanDedupCensus(docs: DataFrame, w: Int): DataFrame = {
    val occ = spanHashes(docs, w)
      .withColumn("occ", col("doc_id") * lit(1048576L) + col("p"))
    val first = occ.groupBy(col("sh")).agg(min(col("occ")).as("keep_occ"))
    // Cut-start positions per doc = every occurrence that lost the min.
    val cuts = occ.join(first, "sh").filter(col("occ") =!= col("keep_occ"))
      .select(col("doc_id"), col("p"))
    spanMaskCensus(docs, cuts, w)
  }

  /** Per-doc census after a block-level cut: blocks before/after, surviving
    * token count, and the md5 of the reassembled (order-preserving) kept
    * text — the hash pins block ORDER, not just the surviving set. Docs
    * losing every block stay in the census with n_kept = 0 and NULL hash.
    */
  private def blockCensus(allBlocks: DataFrame, kept: DataFrame): DataFrame = {
    val nb = allBlocks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_blocks"))
    val agg = kept.groupBy(col("doc_id").as("kdoc"))
      .agg(count(lit(1)).as("n_kept"),
        sum(size(split(col("blk"), " "))).as("n_tokens_kept"),
        md5(concat_ws(" ", transform(
          sort_array(collect_list(struct(col("b"), col("blk")))),
          x => x("blk")))).as("kept_hash"))
    nb.join(agg, nb("doc_id") === col("kdoc"), "left")
      .select(col("doc_id"), col("n_blocks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"),
        col("kept_hash"))
      .orderBy("doc_id")
  }

  /** Standing-corpus artifacts for t15 — the maintained tables a
    * continuously-ingesting deployment keeps alongside the corpus:
    * distinct normalized fingerprints, the corpus rows of the all-docs
    * capped band table, and the corpus shingle sets. Built once per JVM
    * per sf dir, the band and shingle snapshots from one [[lsh3]] build,
    * published atomically via [[graft.sources.ArtifactStore.snapshot]], and
    * read back as plain parquet — consuming plans show FileSourceScanExec
    * over the published files, not the text-processing derivation.
    */
  private def standingCorpus(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    import graft.sources.ArtifactStore
    val corpus = col("doc_id") % 5 =!= 0
    val fp = ArtifactStore.snapshot(s, d, "t15_corpus_fp") {
      Tables.documents(s, d).filter(corpus)
        .select(TextFunctions.fingerprint(col("text")).as("fp")).distinct()
    }
    // Lazy: if both artifacts are already published, no signature build
    // runs; on first publish the two writes share one build.
    lazy val (allSh, allBands) = lsh3(s, d)
    val bands = ArtifactStore.snapshot(s, d, "t15_corpus_bands") {
      allBands.filter(corpus)
    }
    val sh = ArtifactStore.snapshot(s, d, "t15_corpus_shingles") {
      allSh.filter(corpus)
    }
    (fp, bands, sh)
  }

  /** Cap an incoming batch's band keys against an ALREADY-CAPPED standing
    * band table, keeping rows matching `isIncoming`. Provably equivalent to
    * capping over the full corpus∪batch union and then filtering (the
    * oracle's formulation) WITHOUT needing the uncapped corpus bands: if
    * the full-union cap evicts a doc, its bucket holds `cap` smaller docs,
    * and each of those is either a batch doc (present in this union) or
    * itself among the `cap` smallest overall and hence a survivor of the
    * corpus cap (also present) — so ranks computed here agree with
    * full-union ranks on either side of the cap boundary. Pinned by
    * PersistedLayoutSpec on a fixture where the cap binds.
    */
  private[graft] def capIncomingAgainst(inBands: DataFrame,
      corpusCapped: DataFrame, cap: Int,
      isIncoming: org.apache.spark.sql.Column): DataFrame =
    capBuckets(inBands.union(corpusCapped), cap).filter(isIncoming)

  /** The t15/t17 admission decision for one incoming batch of documents
    * (doc_id, text, …) against the MAINTAINED standing-corpus artifacts:
    * exact-duplicate via fingerprint semi-join, near-duplicate via capped
    * cross-set LSH banding plus exact-Jaccard verify, everything else
    * kept. One definition so the batch query (t15) and the streaming
    * foreachBatch run (t17) can never diverge — and cost scales with the
    * batch, not the corpus, because the corpus side is read back as
    * published parquet. Batch rows must satisfy `doc_id % 5 === 0` (the
    * fixture's incoming-set identity, used to split the capped band union
    * back out).
    */
  private[graft] def admitBatch(s: SparkSession, d: String,
      batch: DataFrame): DataFrame = {
    val incoming = col("doc_id") % 5 === 0
    val (exFp, exBands, exSh) = standingCorpus(s, d)
    // Batch shingles feed both banding and the Jaccard verify — one scan.
    // Eager (round 16): dual-consumed with no action between (policy).
    val inSh = shingles(batch, 3).localCheckpoint()
    val inBands = capIncomingAgainst(
      bandKeys(inSh, nHashes = 8, bandSize = 2), exBands, BucketCap, incoming)
    val exactDups = batch
      .withColumn("fp", TextFunctions.fingerprint(col("text")))
      .join(exFp, Seq("fp"), "left_semi")
      .select(col("doc_id")).withColumn("is_exact", lit(true))
    val cand = inBands.toDF("doc_a", "band_a", "key_a")
      .join(exBands.toDF("doc_b", "band_b", "key_b"),
        col("band_a") === col("band_b") && col("key_a") === col("key_b"))
      .select("doc_a", "doc_b").distinct()
    val nearDups = jaccard(cand, docSets(inSh.union(exSh)), 0.5)
      .select(col("doc_a").as("doc_id")).distinct()
      .withColumn("is_near", lit(true))
    batch.select(col("doc_id"))
      .join(exactDups, Seq("doc_id"), "left_outer")
      .join(nearDups, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(col("is_exact"), "exact_dup")
          .when(col("is_near"), "near_dup")
          .otherwise("kept").as("status"))
  }

  /** Same-band pairs (doc_a < doc_b) from an ALREADY-capped band table.
    * Callers pass their query's capped localCheckpoint ([[lshSig]], or
    * t21's own), so the signature pipeline (shingle scan → minhash agg →
    * banding → cap) materializes once and feeds BOTH sides of the
    * self-join.
    */
  private def candidatePairs(capped: DataFrame): DataFrame = {
    val a = capped.toDF("doc_a", "band_a", "key_a")
    val b = capped.toDF("doc_b", "band_b", "key_b")
    a.join(b, col("band_a") === col("band_b") && col("key_a") === col("key_b") &&
      col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Exact Jaccard over distinct shingle sets, computed ONLY for candidate
    * pairs. Round-12 shape: each doc's shingle set is reduced ONCE (linear)
    * to an array of 64-bit shingle hashes, candidates hash-join to the two
    * arrays, and the intersection is a native per-pair `array_intersect` —
    * so the shuffle moves O(pairs) rows, not the O(pairs × shingles/doc)
    * exploded rows of the previous candidates ⋈ shingles(a) ⋈ shingles(b)
    * plan (whose re-aggregation into pair groups dominated t13's 125×
    * scale-curve wall clock). Hash-equality stands in for string-equality
    * exactly as t3's md5-content-equality does: a cross-collision between
    * the ≤~10³ distinct shingles of a compared pair happens with
    * probability ≈ 10⁻¹³ per pair (birthday bound over 2⁻⁶⁴), vastly
    * below the md5 assumptions the exact-dedup gates already rest on.
    * Arrays hold distinct values by construction ([[shingles]] applies
    * array_distinct per doc), so |array_intersect| is the set intersection
    * size and na/nb are the array lengths — same numbers, same rounding,
    * same oracle SQL as before. The verify reads `sets` ([[docSets]]) on
    * both sides of its join, so callers with no action in between
    * checkpoint it eagerly, as [[lshSig]] does its frames.
    */
  private def docSets(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id"))
      .agg(collect_list(xxhash64(col("sh"))).as("shs"))

  /** Drops the blocks of `checkpointed`, a `localCheckpoint` result that
    * nothing reads any more.
    */
  private def release(checkpointed: DataFrame): Unit =
    checkpointed.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(_.unpersist(blocking = true))

  private def jaccard(cand: DataFrame, sets: DataFrame, threshold: Double): DataFrame = {
    val a = sets.select(col("doc_id").as("da"), col("shs").as("sha"),
      size(col("shs")).cast("long").as("na"))
    val b = sets.select(col("doc_id").as("db"), col("shs").as("shb"),
      size(col("shs")).cast("long").as("nb"))
    val withInter = cand
      .join(a, col("doc_a") === col("da"))
      .join(b, col("doc_b") === col("db"))
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"),
        size(array_intersect(col("sha"), col("shb"))).cast("long").as("inter"))
    val j = col("inter").cast("double") /
      (col("na") + col("nb") - col("inter")).cast("double")
    withInter
      // The oracle's `jac` CTE inner-joins on shared shingles, so a candidate
      // pair with ZERO intersection is structurally absent there; mirror that
      // exclusion here, otherwise a band-key collision between disjoint
      // shingle sets would emit jaccard 0.0 and pass a threshold of 0.0.
      .filter(col("inter") > 0)
      .filter(j >= threshold)
      .select(col("doc_a"), col("doc_b"), round(j, 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Shared SQL fragment: the DuckDB mirror of [[shingles]]→[[bandKeys]]→
    * [[candidates]]→[[jaccard]] with word-`n`-grams and given banding.
    */
  private def neardupSql(n: Int, nHashes: Int, bandSize: Int, threshold: String): String =
    s"""${neardupCtes(n, nHashes, bandSize)}
       |SELECT doc_a, doc_b, round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
       |FROM jac WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The WITH-body through the `jac` CTE, shared by [[neardupSql]] and the
    * t13/t21 cluster-resolution oracles (which keep composing CTEs after
    * it). `src` is the docs CTE/table the pipeline reads (t21 points it at
    * its exact-deduped survivor set); `pre` is extra CTE text spliced in
    * right after WITH (must end with a comma) so callers can define `src`
    * before the shared body references it.
    */
  private def neardupCtes(n: Int, nHashes: Int, bandSize: Int,
      src: String = "documents", pre: String = ""): String = {
    val sliceEnd = s"i+${n - 1}"
    def sliceSql(i: Int): String = {
      val src = if (i < 4) "md5(sh)" else "md5('x' || sh)"
      s"min(CAST(('0x' || substr($src, ${1 + 8 * (i % 4)}, 8)) AS BIGINT)) AS mh$i"
    }
    val minsSql = (0 until nHashes).map(sliceSql).mkString(",\n       |    ")
    val bandsSql = (0 until nHashes / bandSize).map { b =>
      s"SELECT doc_id, $b AS band, CAST(mh${2 * b} AS VARCHAR) || '|' || CAST(mh${2 * b + 1} AS VARCHAR) AS band_key FROM mh"
    }.mkString("\n       |  UNION ALL ")
    s"""WITH ${pre}tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM $src
       |), sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)-${n - 2}), i -> array_to_string(t[i:$sliceEnd], ' ')))) AS sh
       |  FROM tok WHERE len(t) >= $n
       |), mh AS (
       |  SELECT doc_id,
       |    $minsSql
       |  FROM sh GROUP BY doc_id
       |), bands AS (
       |  $bandsSql
       |), capped AS (
       |  SELECT doc_id, band, band_key FROM (
       |    SELECT doc_id, band, band_key,
       |      row_number() OVER (PARTITION BY band, band_key ORDER BY doc_id) AS rn
       |    FROM bands
       |  ) WHERE rn <= $BucketCap
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM capped a JOIN capped b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |jac AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS inter, sa.n AS na, sb.n AS nb
       |  FROM cand c
       |  JOIN sh x ON x.doc_id = c.doc_a
       |  JOIN sh y ON y.doc_id = c.doc_b AND y.sh = x.sh
       |  JOIN sizes sa ON sa.doc_id = c.doc_a
       |  JOIN sizes sb ON sb.doc_id = c.doc_b
       |  GROUP BY c.doc_a, c.doc_b, sa.n, sb.n
       |)""".stripMargin
  }

  /** Oracle CTEs from `jac` to the propagation fixpoint `l16`: Jaccard
    * ≥ 0.5 pairs → undirected edges → 16 unrolled min-label propagation
    * rounds (the SQL mirror of star-contraction components; margin guarded
    * by [[resultChecks]]). Shared verbatim by the t13 and t21 oracles so
    * the two compositions can never disagree on what a cluster is.
    */
  private def clusterCtes: String = {
    def round(prev: String, cur: String) =
      s"""$cur AS MATERIALIZED (
         |  SELECT l.id, least(l.lbl, COALESCE(m.nl, l.lbl)) AS lbl
         |  FROM $prev l LEFT JOIN (
         |    SELECT e.dst AS id, MIN($prev.lbl) AS nl
         |    FROM edges e JOIN $prev ON $prev.id = e.src GROUP BY e.dst
         |  ) m ON m.id = l.id
         |)""".stripMargin
    val rounds = (0 until 16).map(i => round(s"l$i", s"l${i + 1}")).mkString(",\n")
    s"""pairs AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM jac
       |  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5
       |),
       |edges AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs
       |),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |l0 AS MATERIALIZED (SELECT id, id AS lbl FROM nodes),
       |$rounds""".stripMargin
  }

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"),
    "es" -> Seq("el", "la", "que"),
    "fr" -> Seq("le", "la", "et"),
    "de" -> Seq("der", "die", "und"),
    "zh" -> Seq("de", "shi", "le"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // T1: per-doc token statistics from one codegen'd projection.
    "t1_token_stats" -> { (s, d) =>
      val t = split(col("text"), " ")
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          size(t).as("n_tokens"),
          size(array_distinct(t)).as("n_distinct"),
          round(aggregate(t, lit(0L), (acc, tok) => acc + length(tok)).cast("double") /
            greatest(size(t), lit(1)).cast("double"), 6).as("mean_tok_len"),
          length(col("text")).as("n_chars_actual"))
        .orderBy("doc_id")
    },

    // T2: document frequency of terms — top 50 (distinct-per-doc explode,
    // then one hash agg; at 100 TB this is the map-side-combine-friendly
    // shape: the explode output is pre-deduped per doc).
    "t2_term_freq" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("term"))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("term").asc)
        .limit(50)
    },

    // T18: BM25 retrieval scoring of every document against a fixed query
    // term set — the classic lexical ranking a training-data pipeline uses
    // for quality/topicality filtering. Corpus stats (N, avgdl, per-term
    // df) are ONE global aggregate broadcast back over the docs, so the
    // whole query is scan → 1-row agg → map-side scalar math → top-k:
    // nothing shuffles with the corpus. Uses the rational idf
    // (N−df+0.5)/(df+0.5) WITHOUT the usual log: ln() is libm-dependent
    // and can differ by 1 ulp across engines, while +,−,×,÷ are IEEE
    // correctly-rounded, so this variant (same ranking monotonicity) is
    // bit-identical on both engines given the identical expression tree.
    "t18_bm25" -> { (s, d) =>
      val toks = split(col("text"), " ")
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), toks.as("t"), size(toks).as("dl"))
      val stats = docs.agg(
        count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
        count(when(array_contains(col("t"), "hash"), 1)).as("df_hash"),
        count(when(array_contains(col("t"), "stream"), 1)).as("df_stream"),
        count(when(array_contains(col("t"), "vector"), 1)).as("df_vector"))
      // One term's score; the expression shape (parenthesization and
      // operand order) is mirrored token-for-token in the oracle SQL —
      // IEEE determinism only holds for the SAME tree.
      def sc(tfc: Column, dfc: Column): Column =
        ((col("n_docs") - dfc + lit(0.5)) / (dfc + lit(0.5))) *
          ((tfc * lit(2.2)) /
            (tfc + lit(1.2) * (lit(0.25) + (lit(0.75) * col("dl")) / col("avgdl"))))
      docs.crossJoin(broadcast(stats))
        .withColumn("tf_hash", size(filter(col("t"), x => x === lit("hash"))))
        .withColumn("tf_stream", size(filter(col("t"), x => x === lit("stream"))))
        .withColumn("tf_vector", size(filter(col("t"), x => x === lit("vector"))))
        .withColumn("bm25", round(
          sc(col("tf_hash"), col("df_hash")) +
            sc(col("tf_stream"), col("df_stream")) +
            sc(col("tf_vector"), col("df_vector")), 6))
        .select("doc_id", "dl", "tf_hash", "tf_stream", "tf_vector", "bm25")
        .orderBy(col("bm25").desc, col("doc_id").asc)
        .limit(25)
    },

    // T20: rare-term density scoring — mean inverse document frequency
    // over each doc's distinct terms, the novelty/specificity signal a
    // quality pipeline pairs with t7's surface stats (jargon-dense docs
    // rank high, boilerplate near zero). The per-term rarity is computed
    // in INTEGER space (SCALE DIV df — exact, order-independent, the
    // PageRank trick) so the cross-row per-doc sum needs no decimal
    // framing; only the final mean is one double division, mirrored
    // token-for-token in the oracle. Shape is the classic TF-IDF join
    // pipeline: distinct-term explode → df hash agg → term-keyed join
    // back → doc-keyed agg (three shuffles; at scale the df table is
    // Zipf-compact and AQE broadcasts it for the join back).
    "t20_rarity" -> { (s, d) =>
      // Materialized once — it feeds BOTH the df aggregation and the
      // join-back side; without this the scan+tokenize+explode runs twice
      // (same rule as the shingle/band materializations above).
      val terms = Tables.documents(s, d)
        .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("term"))
        .localCheckpoint() // eager: dual-consumed, no action between (policy)
      val dfTab = terms.groupBy(col("term")).agg(count(lit(1)).as("df"))
      terms.join(dfTab, "term")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_terms"),
          round(sum(expr("1000000000000L DIV df")).cast("double") / count(lit(1))
            / lit(1000000000000.0), 6).as("rarity"))
        .orderBy(col("rarity").desc, col("doc_id").asc)
        .limit(50)
    },

    // T3: exact dedup by normalized-text fingerprint. The input is the
    // documents table unioned with a shifted-id copy of itself, so the
    // dedup provably halves the input (keeper = min doc_id per fingerprint).
    "t3_exact_dedup" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val dup  = docs.withColumn("doc_id", col("doc_id") + 100000L)
      docs.union(dup)
        .withColumn("fp", TextFunctions.fingerprint(col("text")))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
        .orderBy("keeper_id")
    },

    // T4: MinHash+LSH near-dup pairs — word-trigram shingles, 8 minhashes
    // in 4 bands of 2, exact-Jaccard verification of candidates at ≥ 0.5.
    "t4_minhash_neardup" -> { (s, d) =>
      // Three eager checkpoints (shingles, capped bands, hash sets), then
      // the verify action.
      val (sh, capped) = lsh3(s, d)
      val sets = docSets(sh).localCheckpoint()
      jaccard(candidatePairs(capped), sets, 0.5)
    },

    // T19: EDIT-DISTANCE verification of the LSH candidates — the
    // character-level verify tier under t4's set-based Jaccard: BOUNDED
    // Levenshtein between the two documents' texts (pairs farther than
    // MaxEdit are not near-dups and are dropped), plus the normalized
    // similarity 1 − dist/max(len). Affordable at scale for two reasons,
    // both load-bearing: pairs come ONLY from the capped banded buckets
    // (cost scales with candidates, never corpus²), and the distance uses
    // Spark's THRESHOLD variant — early-abandon banded DP, O(len·MaxEdit)
    // per pair instead of O(len²), which is the difference between
    // verifying a near-dup-dense corpus and melting on it (the 5×
    // scale-curve run was 84× with the full DP; the far pairs that cost
    // the most are exactly the ones the bound discards). Integer DP —
    // identical on any engine — inside codegen, no UDF; the text join is
    // two id-keyed hash joins against the small candidate set.
    "t19_fuzzy_verify" -> { (s, d) =>
      // Banding is the shingles' only reader here: one checkpoint, the bands.
      val capped = cappedBands(shingles(Tables.documents(s, d), 3), nHashes = 8)
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      candidatePairs(capped)
        .join(docs.toDF("doc_a", "text_a"), "doc_a")
        .join(docs.toDF("doc_b", "text_b"), "doc_b")
        // threshold form returns -1 past MaxEdit: banded DP, then filter.
        .withColumn("edit_dist", levenshtein(col("text_a"), col("text_b"), MaxEdit))
        .filter(col("edit_dist") >= 0)
        .select(col("doc_a"), col("doc_b"), col("edit_dist"),
          round(lit(1.0) - col("edit_dist").cast("double") /
            greatest(length(col("text_a")), length(col("text_b"))).cast("double"),
            6).as("sim"))
        .orderBy("doc_a", "doc_b")
    },

    // T21: the TIERED dedup composition the t19 writeup promises — the
    // production shape that keeps character-level verification affordable
    // on a dup-saturated corpus. Three tiers, each collapsing the work the
    // next tier sees:
    //   tier 0  exact dedup: fingerprint groupBy keeps the min-id keeper
    //           per identical text (the input is documents ∪ a shifted-id
    //           copy, as in t3, so this tier provably halves the corpus);
    //   tier 1  near-dup clusters over the SURVIVORS: capped LSH banding →
    //           exact-Jaccard ≥ 0.5 pairs → star-contraction components
    //           (t13's machinery), collapsing each near-dup cluster to its
    //           min-id representative;
    //   tier 2  char verify (bounded levenshtein, t19's threshold DP) of
    //           each non-rep member AGAINST ITS REPRESENTATIVE ONLY — one
    //           verify per member, LINEAR in cluster size, where t19's
    //           all-candidate-pairs verify is quadratic (a k-member
    //           cluster costs k−1 verifies here vs k(k−1)/2 there). This
    //           is why the 5× dup-saturated scale-curve corpus grows t21
    //           ~linearly while pair-level verify grew 91×.
    // Members farther than MaxEdit from their rep keep edit_dist = −1 and
    // a NULL sim (an honest "LSH+Jaccard merged, chars disagree" verdict)
    // rather than being dropped — the row count stays the full member set.
    "t21_tiered_verify" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val all = docs.union(docs.withColumn("doc_id", col("doc_id") + 100000L))
      // Tier 0: exact-dup keepers (min doc_id per normalized fingerprint).
      val keepers = all
        .withColumn("fp", TextFunctions.fingerprint(col("text")))
        .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      // EAGER checkpoints (round 16): dedup is consumed 3x (shingles + both
      // tier-2 text joins), sh 2x (banding + docSets), capped 2x (candidate
      // self-join legs) — all before the first action (componentsStar's
      // fingerprint), which under lazy checkpoints evaluated ALL of them at
      // once and on a cluster can compute each frame once per consuming
      // stage. This was VERDICT r15's #2 finding: t21 doubled in the driver
      // bench (4.34 -> 9.55 s) after the lazy flip; eager restores the
      // round-15 policy's own exactly-once contract.
      val dedup0 = all.join(keepers, Seq("doc_id"), "left_semi").localCheckpoint()
      // Tier-1's shingle explode + per-gram md5 is the query's CPU: AQE
      // coalesces the tiny post-shuffle survivor frame to 1-2 partitions
      // (bytes-based), idling the rest of the cluster for a per-ROW-
      // expensive map (JobProfile: 2-task jobs dominating the wall). Widen
      // it to the session's parallelism ONLY when it arrived narrower —
      // at scale the survivor frame already has ≫ defaultParallelism
      // partitions and this branch is a no-op (guide §2.6 idle capacity).
      // The widened checkpoint replaces dedup0 for every reader, so
      // dedup0's blocks are released at once instead of staying pinned
      // for the rest of the session.
      val par = s.sparkContext.defaultParallelism
      val dedup =
        if (dedup0.rdd.getNumPartitions < par) {
          val wide = dedup0.repartition(par).localCheckpoint()
          release(dedup0)
          wide
        } else dedup0
      // Tier 1: LSH → Jaccard ≥ 0.5 → star components over the survivors.
      val sh = shingles(dedup, 3).localCheckpoint()
      val capped = capBuckets(bandKeys(sh, nHashes = 8, bandSize = 2), BucketCap)
        .localCheckpoint()
      val pairs = jaccard(candidatePairs(capped), docSets(sh), 0.5)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val (labels, _) = new graft.operators.LinkGraph(pairs).connectedComponentsStar()
      // Tier 2: one bounded char verify per member, against its rep.
      val members = labels.filter(col("id") =!= col("lbl"))
        .select(col("lbl").as("cluster_rep"), col("id").as("member"))
      members
        .join(dedup.toDF("cluster_rep", "text_r"), "cluster_rep")
        .join(dedup.toDF("member", "text_m"), "member")
        .withColumn("edit_dist", levenshtein(col("text_r"), col("text_m"), MaxEdit))
        .select(col("cluster_rep"), col("member"), col("edit_dist"),
          when(col("edit_dist") >= 0,
            round(lit(1.0) - col("edit_dist").cast("double") /
              greatest(length(col("text_r")), length(col("text_m"))).cast("double"),
              6)).as("sim"))
        .orderBy("cluster_rep", "member")
    },

    // T22: PARAGRAPH-level dedup — exact dedup at SUB-document granularity,
    // the Dolma/CCNet-style pass that removes boilerplate repeated ACROSS
    // documents (headers, navigation, license blocks) while keeping the
    // documents themselves. The fixture corpus has no newlines, so the
    // "paragraph" unit is a fixed 20-token block (the fallback segmentation
    // real pipelines use for unstructured text); the machinery is unit-
    // agnostic. Policy: a block survives only at its FIRST occurrence
    // (lowest (doc_id, block_index)); later repeats are cut and each doc is
    // reassembled from its surviving blocks in order.
    //
    // Scale shape (the whole point): this is sub-document EXACT dedup, so
    // it stays linear no matter how dup-saturated the corpus is —
    //   blocks   one flatMap (posexplode over a computed slice array);
    //   first    ONE groupBy on the 128-bit block hash (map-side combinable
    //            MIN of the packed occurrence key) — at 100 TB the shuffle
    //            carries (hash, occ) pairs, never block text;
    //   cut      one hash join of blocks back to winners on (hash, occ);
    //   rebuild  one groupBy(doc_id) with an in-group sort_array — group
    //            size is bounded by tokens/doc ÷ 20, never corpus-sized.
    // The census (per doc: blocks before/after, surviving token count, md5
    // of the reassembled text) is the gate: the reassembly hash pins block
    // ORDER, not just the surviving set.
    "t22_block_dedup" -> { (s, d) =>
      // Packed first-occurrence key: 2^20 bounds blocks/doc (≈20M tokens),
      // far above any fixture or plausible document.
      val occ = docBlocks(Tables.documents(s, d))
        .withColumn("bh", md5(col("blk")))
        .withColumn("occ", col("doc_id") * lit(1048576L) + col("b"))
      val first = occ.groupBy(col("bh")).agg(min(col("occ")).as("keep_occ"))
      val kept = occ.join(first, "bh").filter(col("occ") === col("keep_occ"))
      blockCensus(occ, kept)
    },

    // T23: t22's cut run INCREMENTALLY — the production shape for a
    // continuously-ingesting corpus (Dolma-style): the standing corpus
    // maintains a distinct-block-hash table (persisted artifact, read back
    // as plain parquet), and admitting a batch costs one anti-join of the
    // BATCH's blocks against it plus t22's first-occurrence pass WITHIN
    // the batch — cost scales with the batch, never the corpus (the t15
    // incremental recipe at sub-document granularity). Census shape is
    // t22's, over the batch docs only.
    "t23_incremental_block_dedup" -> { (s, d) =>
      import graft.sources.ArtifactStore
      val standing = ArtifactStore.snapshot(s, d, "t23_corpus_blocks") {
        docBlocks(Tables.documents(s, d).filter(col("doc_id") % 5 =!= 0))
          .select(md5(col("blk")).as("bh")).distinct()
      }
      val batch = docBlocks(
        Tables.documents(s, d).filter(col("doc_id") % 5 === 0))
        .withColumn("bh", md5(col("blk")))
      // Tier 1: any block the corpus has EVER seen is cut outright.
      val fresh = batch.join(standing, Seq("bh"), "left_anti")
      // Tier 2: first-occurrence-wins among the corpus-fresh batch blocks.
      val occ = fresh.withColumn("occ", col("doc_id") * lit(1048576L) + col("b"))
      val first = occ.groupBy(col("bh")).agg(min(col("occ")).as("keep_occ"))
      val kept = occ.join(first, "bh").filter(col("occ") === col("keep_occ"))
      blockCensus(batch, kept)
    },

    // T35: cross-doc REPEATED-SPAN dedup — the ExactSubstr pass (Lee et
    // al. 2022, "Deduplicating Training Data Makes Language Models
    // Better"): duplicated token spans are removed wherever they RECUR,
    // at EVERY starting position (overlapping windows), not just on t22's
    // fixed block grid — the mode that catches a license paragraph pasted
    // mid-document at an arbitrary offset. Suffix arrays don't distribute;
    // the Spark-shaped equivalent hashes every 15-token window, keeps each
    // span's global first occurrence (min packed doc_id·2^20+pos), and
    // cuts every other occurrence under MASK-UNION semantics: a token is
    // removed iff ANY non-first duplicate span covers it (aggressive,
    // deterministic, order-free — documented difference from the
    // sequential suffix-array cut, which this bounds from above). Census
    // per doc: tokens before/after and the md5 of the surviving
    // order-preserved text (NULL when nothing survives).
    //
    // Scale shape: one posexplode (≤ n_tok windows/doc), ONE groupBy on
    // the 128-bit span hash (map-side-combinable MIN — the shuffle
    // carries (hash, occ) pairs, never span text), one join back, and a
    // per-doc HOF mask (no token-level shuffle). Linear no matter how
    // dup-saturated the corpus is — same 100 TB story as t22.
    "t35_span_dedup" -> { (s, d) =>
      spanDedupCensus(Tables.documents(s, d), SpanW)
    },

    // T36: t35's cut run INCREMENTALLY — the continuously-ingesting shape
    // (t23's recipe at span granularity): the standing corpus maintains a
    // distinct-span-hash artifact (persisted, read back as plain
    // parquet); admitting a batch costs one semi-join (corpus-seen spans
    // cut at EVERY batch occurrence — the corpus owns their first
    // occurrence by definition), one anti-join, and t35's
    // first-occurrence pass WITHIN the corpus-fresh remainder. Cost
    // scales with the batch, never the corpus. Census is t35's, over the
    // batch docs only.
    "t36_incremental_span_dedup" -> { (s, d) =>
      import graft.sources.ArtifactStore
      val standing = ArtifactStore.snapshot(s, d, "t36_corpus_spans") {
        spanHashes(Tables.documents(s, d).filter(col("doc_id") % 5 =!= 0), SpanW)
          .select(col("sh")).distinct()
      }
      val batch = Tables.documents(s, d).filter(col("doc_id") % 5 === 0)
      val spans = spanHashes(batch, SpanW)
      // Tier 1: corpus-seen spans cut at every batch position.
      val seenCuts = spans.join(standing, Seq("sh"), "left_semi")
        .select(col("doc_id"), col("p"))
      // Tier 2: first-occurrence-wins among the corpus-fresh spans.
      val fresh = spans.join(standing, Seq("sh"), "left_anti")
        .withColumn("occ", col("doc_id") * lit(1048576L) + col("p"))
      val first = fresh.groupBy(col("sh")).agg(min(col("occ")).as("keep_occ"))
      val freshCuts = fresh.join(first, "sh").filter(col("occ") =!= col("keep_occ"))
        .select(col("doc_id"), col("p"))
      spanMaskCensus(batch, seenCuts.union(freshCuts), SpanW)
    },

    // T5: n-gram Jaccard near-dup — word-bigram variant with lighter banding
    // (4 minhashes, 2 bands), higher threshold 0.6. Same three eager
    // checkpoints as t4, over bigram shingles.
    "t5_ngram_jaccard" -> { (s, d) =>
      val (sh, capped) = lshSig(s, d, n = 2, nHashes = 4)
      val sets = docSets(sh).localCheckpoint()
      jaccard(candidatePairs(capped), sets, 0.6)
    },

    // T13: near-dup CLUSTER RESOLUTION — the action a dedup pipeline takes
    // after pair detection: treat t4's jaccard>=0.5 pairs as edges, find
    // connected components with the O(log n) star contraction, keep the
    // smallest doc_id per cluster. Composes the two flagship pieces (LSH
    // banding + star components) into the production dedup; the census
    // (representative, member count, max member) is oracle-gated against
    // the same pair CTEs + 16 unrolled propagation rounds.
    "t13_neardup_clusters" -> { (s, d) =>
      val (sh, capped) = lsh3(s, d)
      val sets = docSets(sh).localCheckpoint()
      val pairs = jaccard(candidatePairs(capped), sets, 0.5)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val (labels, _) = new graft.operators.LinkGraph(pairs).connectedComponentsStar()
      labels.groupBy(col("lbl").as("cluster_rep"))
        .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_member"))
        .orderBy("cluster_rep")
      // Oracle-margin guard lives in `resultChecks` (applied by Verify
      // post-write and by VectorAndDedupSpec), NOT here: query builders
      // stay fully lazy — no head()/collect() inside any `queries` closure.
    },

    // T6: 16-bit SimHash per doc, computed in ONE pass with higher-order
    // functions (no explode, no shuffle beyond the final sort): per distinct
    // token, bit j contributes +1 if nibble j of md5(token) has its top bit
    // set, else -1; the sign of each accumulated coordinate is the bit.
    "t6_simhash" -> { (s, d) =>
      val hexHi = Seq("8", "9", "a", "b", "c", "d", "e", "f").map(x => x: Any)
      def bits(tok: Column): Column = {
        val h = md5(tok)
        transform(sequence(lit(1), lit(16)),
          j => when(h.substr(j, lit(1)).isin(hexHi: _*), lit(1L)).otherwise(lit(-1L)))
      }
      val t = array_distinct(split(col("text"), " "))
      Tables.documents(s, d)
        .select(col("doc_id"),
          array_join(
            transform(
              aggregate(t, array_repeat(lit(0L), 16),
                (acc, tok) => zip_with(acc, bits(tok), (a, b) => a + b)),
              b => when(b >= 0, "1").otherwise("0")), "").as("simhash"))
        .orderBy("doc_id")
    },

    // T8: rolling-hash fingerprints — whole-doc Rabin–Karp polynomial hash
    // plus the winnowing-style min-32-gram-window hash (near-identical
    // docs collide on the latter with high probability).
    "t8_rolling_fingerprint" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextFunctions.rollingHash(col("text")).as("rhash"),
          TextFunctions.winnowFingerprint(col("text")).as("winnow_fp"))
        .orderBy("doc_id")
    },

    // T10: token-budget shard packing — assign each doc (within its lang,
    // in deterministic doc_id order) to the shard where its cumulative
    // token count lands, 2000 tokens per shard: the sequence-packing step
    // that turns a cleaned corpus into bounded training shards. Running
    // sum over a keyed window; at 100 TB the lang partitions pack
    // independently (embarrassingly parallel per key).
    "t10_token_packing" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val nTok = size(split(col("text"), " "))
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val docs = Tables.documents(s, d)
        .select(col("lang"), col("doc_id"), nTok.as("n_tokens"))
        .withColumn("cum_before", sum(col("n_tokens")).over(w) - col("n_tokens"))
        .withColumn("shard", expr("cum_before DIV 2000"))
        .drop("cum_before")
      docs.groupBy(col("lang"), col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("shard_tokens"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("lang", "shard")
    },

    // T9: deterministic stratified sampling + train/val/test split. The
    // assignment hashes the ROW KEY (md5 mod 100), not an RNG: stable
    // under any partitioning/repartitioning, reproducible across engines
    // and runs — the property a training-data pipeline needs so a document
    // never migrates between splits. Output: per-(lang, split) counts.
    "t9_stratified_split" -> { (s, d) =>
      val h = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
      Tables.documents(s, d)
        .withColumn("split",
          when(h < 80, "train").when(h < 90, "val").otherwise("test"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"))
        .orderBy("lang", "split")
    },

    // T14: mixture rebalancing — downsample every language to the minority
    // language's (expected) count, the reweighting step before training-mix
    // assembly. The keep decision is ALL-INTEGER: keep iff
    // (md5-hash % 1e6) * n_lang < min_n * 1e6 — no double rounding to
    // diverge between engines, deterministic per doc (stable under
    // repartitioning, like the t9 split), expected kept ≈ min_n per lang.
    // Counts are one tiny broadcast row per lang.
    "t14_mixture_balance" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      val minN = counts.agg(min(col("n_docs")).as("min_n"))
      val h = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 1000000L
      docs.join(broadcast(counts), Seq("lang"))
        .crossJoin(broadcast(minN))
        .withColumn("keep", h * col("n_docs") < col("min_n") * 1000000L)
        .groupBy(col("lang"))
        .agg(first(col("n_docs")).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
        .withColumn("kept_frac",
          round(col("n_kept").cast("double") / col("n_docs"), 6))
        .orderBy("lang")
    },

    // T16: adaptive quality thresholding — keep the TOP HALF of each
    // language by composite quality, the percentile-based alternative to
    // t7/e3's fixed cutoff (a fixed threshold over- or under-prunes
    // languages whose score distributions differ). percent_rank over
    // (quality desc, doc_id) — quality is rounded to 6dp and doc_id
    // unique, so ranks (and the 0.5 cut) are engine-identical. One
    // window per lang partition: embarrassingly parallel across langs.
    "t16_quality_percentile" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("quality").desc, col("doc_id").asc)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          TextFunctions.qualityScore(col("text")).as("quality"))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("keep", col("pr") <= 0.5)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          round(min(when(col("keep"), col("quality"))), 6).as("cutoff_quality"))
        .orderBy("lang")
    },

    // T15: INCREMENTAL dedup — the continuously-growing-corpus path: an
    // incoming batch (doc_id % 5 == 0, deterministic) is admitted only if
    // it is neither an exact duplicate (normalized-fingerprint anti-join)
    // nor an LSH near-duplicate (shared capped band bucket with an
    // EXISTING doc and exact Jaccard >= 0.5) of the standing corpus. The
    // corpus side is NOT recomputed per run: its fingerprints, capped band
    // keys, and shingle sets are MAINTAINED tables ([[standingCorpus]],
    // SnapshotSink-published, read back as plain parquet scans — pinned in
    // PersistedLayoutSpec), so the per-run cost is the batch text scan plus
    // joins against the persisted artifacts — it scales with the batch,
    // not the corpus. Output: per-incoming-doc admission status.
    "t15_incremental_dedup" -> { (s, d) =>
      admitBatch(s, d, Tables.documents(s, d).filter(col("doc_id") % 5 === 0))
        .orderBy("doc_id")
    },

    // T17: the SAME admission logic run as a REAL STREAM — the
    // continuously-ingesting corpus shape: a file-stream source over the
    // documents table feeds foreachBatch, micro-batches STAGE their raw
    // rows (append sink, checkpointed), and when the ingestion window
    // closes [[admitBatch]] runs ONCE over the staged set against the
    // PERSISTED standing-corpus artifacts before SnapshotSink publishes
    // the decisions. Admission at window close — not per micro-batch — is
    // deliberate: the LSH bucket cap makes incoming docs COMPETE for cap
    // slots, and a per-batch admission would let a hot-bucket doc evade
    // the cap whenever its competitors arrive in a different micro-batch
    // (the decision would depend on file/batch boundaries). This way one
    // admission implementation serves t15 and t17, both share one oracle,
    // and the landed decision is provably batch-count invariant.
    "t17_stream_incremental_dedup" -> { (s, d) =>
      val base = scratchDir(s, d, "t17_sink")
      val q = graft.streaming.StreamOps.documentsStream(s, d)
        .filter(col("doc_id") % 5 === 0)
        .writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(s"$base/staging")
        }
        .start()
      q.awaitTermination()
      graft.sources.SnapshotSink.overwrite(
        admitBatch(s, d, ParquetSource.read(s, s"$base/staging")), s"$base/snapshot")
      ParquetSource.read(s, s"$base/snapshot").orderBy("doc_id")
    },

    // T11: benchmark-contamination check — the decontamination pass a
    // training pipeline runs before shipping a corpus: for every CONTAMINATED
    // corpus doc (≥1 hit — clean docs emit no row; this is the flag list a
    // pipeline acts on, not a full census), the count of distinct
    // word-4-grams also present in a held-out "benchmark" set
    // (deterministic 1-in-7 doc_id sample). The join runs on the
    // shingle HASH (15 md5 hex digits as a long), so the shuffle carries
    // 8 bytes per shingle instead of the n-gram text; the hash is mirrored
    // in the oracle SQL, so any collision behaves identically in both
    // engines. The bench side here is DERIVED from the corpus (a 1-in-7
    // doc sample), so it grows linearly with the input — no broadcast hint:
    // AQE picks broadcast when the materialized side fits the threshold and
    // falls back to a shuffled left-semi join otherwise. In a real
    // deployment the benchmark set is a bounded external fixture (MMLU,
    // GSM8K, …) and broadcast is then always the chosen plan; at corpus
    // scale with a large bench side the shuffled semi join on 8-byte hashes
    // (optionally preceded by a bloom-filter pre-pass) is the correct
    // fallback, and this plan degrades to exactly that.
    "t11_contamination" -> { (s, d) =>
      // Materialized once (round 15): bench, sizes, and the semi-join all
      // read the hashed-shingle frame, and without the cut each consumer
      // re-ran the shingle explode + per-4-gram md5 over the corpus — the
      // query's dominant CPU. Narrow (doc_id, h) rows; at 100 TB one pass
      // over the n-gram stream instead of three.
      val sh = shingles(Tables.documents(s, d), 4)
        .select(col("doc_id"),
          conv(substring(md5(col("sh")), 1, 15), 16, 10).cast("long").as("h"))
        .localCheckpoint() // eager (r16): 3 consumers, no action between (policy)
      val bench  = sh.filter(col("doc_id") % 7 === 0).select(col("h").as("bh")).distinct()
      val corpus = sh.filter(col("doc_id") % 7 =!= 0)
      val sizes  = corpus.groupBy(col("doc_id")).agg(count(lit(1)).as("n_ngrams"))
      val hits   = corpus.join(bench, col("h") === col("bh"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
      hits.join(sizes, Seq("doc_id"))
        .select(col("doc_id"), col("n_ngrams"), col("n_contaminated"),
          round(col("n_contaminated").cast("double") / col("n_ngrams"), 6)
            .as("contamination"))
        .orderBy("doc_id")
    },

    // T12: intra-document repetition scoring — the Gopher-style quality
    // filter (duplicate 3-gram fraction) that catches boilerplate/looping
    // text BEFORE corpus-level dedup ever sees it. Pure per-row HOFs
    // (transform/array_distinct) — zero shuffles beyond the output sort;
    // at 100 TB this is a map-only pass.
    "t12_repetition" -> { (s, d) =>
      val t = split(col("text"), " ")
      val tg = transform(sequence(lit(1), size(t) - 2),
        i => concat_ws(" ", slice(t, i, lit(3))))
      Tables.documents(s, d)
        .filter(size(t) >= 3)
        .select(col("doc_id"), size(t).as("n_tokens"),
          size(tg).as("n_trigrams"),
          size(array_distinct(tg)).as("n_distinct"))
        .withColumn("rep_ratio",
          round(lit(1.0) - col("n_distinct") / col("n_trigrams"), 6))
        .withColumn("repetitive", col("rep_ratio") > 0.2)
        .orderBy("doc_id")
    },

    // T7a: language-ID + quality scoring per doc (marker-count heuristic and
    // composite score, all arithmetic mirrored exactly in the oracle SQL).
    "t7_lang_quality" -> { (s, d) =>
      val t = split(col("text"), " ")
      val sw = size(filter(t, tok => tok.isin(stopwords.map(x => x: Any): _*))).cast("double") /
        greatest(size(t), lit(1)).cast("double")
      Tables.documents(s, d)
        .select(
          col("doc_id"), col("lang"),
          TextFunctions.langId(col("text")).as("lang_guess"),
          round(sw, 6).as("stopword_ratio"),
          round(TextFunctions.meanTokenLen(col("text")), 6).as("mean_tok_len"),
          TextFunctions.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    },

    // E3: the end-to-end corpus pipeline as ONE declarative plan — the
    // composition a training-data run actually executes: quality filter
    // (T7) → exact dedup by normalized fingerprint (T3) → deterministic
    // stratified split (T9) → token-budget shard packing per (lang, split)
    // (T10). Every stage reuses the already-oracle-gated building block;
    // the output is the shard manifest. One codegen'd scan feeds the
    // fingerprint window, then one window per (lang, split) packs — no
    // collect, no driver loop, composes to any scale the parts do.
    "e3_corpus_pipeline" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val deduped = Tables.documents(s, d)
        .filter(TextFunctions.qualityScore(col("text")) >= 0.5)
        .withColumn("fp", TextFunctions.fingerprint(col("text")))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
        .filter(col("rn") === 1)
      val h = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
      val withSplit = deduped
        .withColumn("split",
          when(h < 80, "train").when(h < 90, "val").otherwise("test"))
        .withColumn("n_tokens", size(split(col("text"), " ")))
      val wp = Window.partitionBy(col("lang"), col("split")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      withSplit
        .withColumn("cum_before", sum(col("n_tokens")).over(wp) - col("n_tokens"))
        .withColumn("shard", expr("cum_before DIV 2000"))
        .groupBy(col("lang"), col("split"), col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("shard_tokens"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("lang", "split", "shard")
    },

    // T7b: per-(lang, source) slice analytics.
    "t7_slice_stats" -> { (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          davg(col("n_chars").cast("double")).as("avg_chars"),
          sum(size(split(col("text"), " "))).as("total_tokens"))
        .orderBy("lang", "source")
    },

    // T24: SimHash HAMMING-RADIUS near-dup via banded LSH — the other half
    // of the simhash story (t6 computes signatures; this one searches
    // them). 48-bit signature (t6's construction widened to all 4 bits of
    // md5 nibbles 1..12), split into 4 × 12-bit bands; docs sharing ANY
    // band value are candidates, verified by exact hamming distance ≤ 3.
    // By pigeonhole 4 bands cover radius 3 EXACTLY (3 flipped bits cannot
    // touch all 4 bands), so the banded result EQUALS brute force — and the
    // oracle IS the all-pairs brute force, making the completeness claim
    // the thing the hash gate checks.
    //
    // Scale shape: signatures are one codegen'd HOF pass (no shuffle), the
    // band join keys a shuffle on (band, value) — 4 rows/doc, bucket space
    // 4096/band here (65536/band with the 64-bit production width), and
    // within-bucket pair cost is quadratic ONLY in the dup-cluster size.
    // Deliberately uncapped: a cap would break the radius-3 completeness
    // contract; the production defense against adversarial buckets is
    // collapsing exact dups (t3) BEFORE banding, which bounds cluster
    // width, not a lossy cap.
    "t24_simhash_band" -> { (s, d) =>
      simhashBandPairs(simhashSigs(Tables.documents(s, d)))
        .orderBy("doc_a", "doc_b")
    },

    // T29: the TIERED simhash composition — t21's defense pattern applied
    // to t24's worst case: on a dup-saturated corpus identical documents
    // share identical signatures, so every band bucket holds whole dup
    // clusters and pair emission goes quadratic in CLUSTER SIZE. Collapse
    // exact duplicates FIRST (md5-fingerprint groupBy, min-id
    // representative + multiplicity), band only the representatives, and
    // carry m_a·m_b so no information is lost — the cross-cluster
    // near-dup pair count is recoverable exactly. Banding cost is now
    // quadratic only in DISTINCT-text cluster width; the exact tier is
    // one linear hash-agg. This is the production ordering at 100 TB:
    // t3 → t29 band → (t19-style verify if needed).
    "t29_simhash_tiered" -> { (s, d) =>
      val reps = Tables.documents(s, d)
        .select(md5(col("text")).as("fp"), col("doc_id"), col("text"))
        .groupBy(col("fp"))
        .agg(min(struct(col("doc_id"), col("text"))).as("r"),
          count(lit(1)).as("m"))
        .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"),
          col("m"))
      val mults = reps.select(col("doc_id"), col("m"))
      simhashBandPairs(simhashSigs(reps))
        .join(mults.select(col("doc_id").as("doc_a"), col("m").as("m_a")), "doc_a")
        .join(mults.select(col("doc_id").as("doc_b"), col("m").as("m_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("hamming"),
          (col("m_a") * col("m_b")).as("n_pairs"))
        .orderBy("doc_a", "doc_b")
    },

    // T25: Gopher/C4-style REPETITION quality filter — the rule family
    // those pipelines apply before any fuzzy dedup: drop documents whose
    // token stream is dominated by repetition. Three per-doc metrics:
    //   uniq_ratio    = distinct tokens / tokens        (vocabulary spread)
    //   top_tok_frac  = most-frequent token count / n   (single-token loops)
    //   top2_frac     = tokens inside the most frequent 2-gram / n
    //                   (= 2·mode(2gram)/n, phrase loops)
    // Shape for 100 TB: two explode→count→max chains, both partially
    // aggregated map-side and keyed by doc_id (the same co-partitioning
    // every other per-doc stage uses), then one doc_id join — no windows
    // over the token stream, no per-row histogram HOFs (those don't
    // codegen; see t24's history). Thresholds sit at the fixture's metric
    // medians so the gate check exercises both branches; keep is surfaced
    // as INT alongside the metrics so the oracle pins the arithmetic, not
    // just the survivors.
    "t25_repetition_filter" -> { (s, d) =>
      repetitionMetrics(Tables.documents(s, d)).orderBy("doc_id")
    },

    // T26: temperature (α = 0.5, "square-root") language resampling — the
    // multilingual mix-rebalancing step between t14's full balance (α → 0)
    // and no resampling (α = 1): language l keeps rate √(n_min/n_l), so
    // kept counts ∝ √n_l. The keep gate is ALL-INTEGER in DECIMAL(38,0) —
    // u²·n_l < n_min·10¹² with u = md5-hash % 10⁶ — no double sqrt or
    // division whose rounding could diverge between engines, and the
    // decimal width survives corpus counts (u²·n overflows INT64 past
    // n ≈ 9·10⁶ rows per language; 10 TB of docs is ~10¹⁰). Per-doc,
    // repartition-stable, and the per-language rate table is one tiny
    // broadcast row per language — the corpus never shuffles.
    "t26_temperature_sample" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      val minN = counts.agg(min(col("n_docs")).as("min_n"))
      val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 1000000L
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      docs.join(broadcast(counts), Seq("lang"))
        .crossJoin(broadcast(minN))
        .filter(u.cast(dec) * u * col("n_docs") <
          col("min_n").cast(dec) * lit(1000000000000L))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },

    // T28: token-budget mixture ASSEMBLY — the final train-mix step:
    // given explicit target weights per language and a global token
    // budget (half the corpus here), sample each language toward
    // D_l = w_l·B tokens. Doc-level hash sampling at rate
    // r_l = min(1, D_l/T_l) — the standard approximation (docs are small
    // vs the budget; expected token error is O(max doc length)). The
    // keep gate is ALL-INTEGER in DECIMAL(38,0): u·T_l·w_den < w_num·B·10⁶
    // — the min(1,·) is implicit (an over-asked language satisfies the
    // inequality for every u), no double division anywhere, overflow-safe
    // past INT64 at corpus token counts. Per-language totals are one tiny
    // broadcast row each; the corpus never shuffles except the output sort.
    "t28_token_mixture" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).as("n_tokens"))
      // Target mix (w_num/w_den): en 30%, de/es 20%, fr/zh 15%.
      val w = typedLit(Map(
        "en" -> 30L, "de" -> 20L, "es" -> 20L, "fr" -> 15L, "zh" -> 15L))
      val wDen = 100L
      val totals = docs.groupBy(col("lang"))
        .agg(sum(col("n_tokens")).as("t_l"))
      val budget = docs.agg(expr("sum(n_tokens) DIV 2").as("b")) // integer halving, no double
      val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 1000000L
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      docs.join(broadcast(totals), Seq("lang"))
        .crossJoin(broadcast(budget))
        .filter(u.cast(dec) * col("t_l") * lit(wDen) <
          w(col("lang")).cast(dec) * col("b") * lit(1000000L))
        .select(col("doc_id"), col("lang"), col("n_tokens"))
        .orderBy("doc_id")
    },

    // E6: the MODERN curation pipeline, end-to-end in one declarative
    // plan — the round-8 ops composed in production order: repetition
    // quality gate (t25) → exact dedup among survivors (md5-fingerprint
    // min-id keeper, t3's tier) → √-temperature language resampling over
    // the POST-DEDUP counts (t26's gate — rates must be computed after
    // dedup or duplicated languages stay over-represented) → per-language
    // census. Every stage is the already-gated operator's exact
    // arithmetic; Catalyst fuses the chain (the gate join, the keeper
    // groupBy, and the sample filter pipeline into three shuffles total).
    // e3 is this pipeline's v1 (quality → dedup → split → pack); e6 is
    // the curation half with the round-8 quality/mixture tiers.
    "e6_curation_pipeline" -> { (s, d) =>
      // Keeper identity is min doc_id (unique), so the dedup struct can
      // carry the REDUCED text (token count) instead of the document. The
      // [[curationBase]] checkpoint feeds every consumer, so the metrics
      // chain runs once per query, not per branch.
      val deduped = curationBase(s, d).filter(col("keep") === 1)
        .groupBy(col("fp"))
        .agg(min(struct(col("doc_id"), col("lang"), col("n_tok"))).as("r"))
        .select(col("r.doc_id").as("doc_id"), col("r.lang").as("lang"),
          col("r.n_tok").as("n_tok"))
      val counts = deduped.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      val minN = counts.agg(min(col("n_docs")).as("min_n"))
      val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 1000000L
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      deduped.join(broadcast(counts), Seq("lang"))
        .crossJoin(broadcast(minN))
        .filter(u.cast(dec) * u * col("n_docs") <
          col("min_n").cast(dec) * lit(1000000000000L))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_tok")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("lang")
    },

    // T27: t25's quality gate as a REAL STREAM — the ingest-time curation
    // filter: documents file-stream → per-micro-batch metrics + keep
    // decision (foreachBatch) → append sink → atomic publish. The metrics
    // are strictly per-doc (no cross-doc state), so admission is
    // batch-boundary invariant BY CONSTRUCTION and the stream shares t25's
    // oracle arithmetic restricted to survivors — the same
    // stream-must-equal-batch contract t17 carries for incremental dedup.
    "t27_stream_quality_gate" -> { (s, d) =>
      val base = scratchDir(s, d, "t27_sink")
      val q = graft.streaming.StreamOps.documentsStream(s, d)
        .writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          repetitionMetrics(batch).filter(col("keep") === 1)
            .write.mode("append").parquet(s"$base/staging")
        }
        .start()
      q.awaitTermination()
      graft.sources.SnapshotSink.overwrite(
        ParquetSource.read(s, s"$base/staging"), s"$base/snapshot")
      ParquetSource.read(s, s"$base/snapshot")
        .select("doc_id", "n_tokens", "uniq_ratio", "top_tok_frac",
          "top2_frac", "keep")
        .orderBy("doc_id")
    },

    // T30: BPE-training pair census — the inner statistic of byte-pair
    // encoding: count adjacent symbol pairs across the corpus, take the
    // top merges. The corpus-scale trick is collapsing to the DISTINCT
    // WORD VOCABULARY first (one linear hash-agg; Zipf makes the vocab
    // orders of magnitude smaller than the token stream) and exploding
    // character pairs only over vocab entries with their multiplicity
    // carried — pair-generation cost is Σ|word| over the VOCAB, not the
    // corpus. Two shuffles (vocab census, pair census), both map-side
    // combined; the top-100 is TakeOrderedAndProject, never a global sort.
    // A full BPE trainer iterates this census↔merge loop; each round is
    // exactly this plan over the rewritten vocab.
    "t30_bpe_pairs" -> { (s, d) =>
      val vocab = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "" && length(col("word")) >= 2)
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
      vocab
        .select(explode(transform(
            sequence(lit(1), length(col("word")) - 1),
            i => col("word").substr(i, lit(2)))).as("pair"),
          col("n"))
        .groupBy(col("pair")).agg(sum(col("n")).as("n_pairs"))
        .orderBy(col("n_pairs").desc, col("pair").asc)
        .limit(100)
    },

    // T37: BPE APPLY — t30 counts merge candidates; this actually APPLIES
    // a fixed rank-ordered merge table (the 8 most common English
    // bigrams), turning the text stack into a real token-count source for
    // t10's packing. Ranks apply SEQUENTIALLY, each as a greedy
    // left-to-right non-overlapping pass over the word's symbol sequence
    // — the classic BPE tiling (a run "aaa" under merge (a,a) becomes
    // [aa, a], never re-merging the freshly made symbol). The pass is ONE
    // codegen-free but shuffle-free `aggregate` HOF fold per rank over a
    // sentinel-delimited symbol string ("|t|h|e|"): a merge fires only on
    // `endswith(acc, '|p1|') AND x = p2` — exact SYMBOL boundaries, so a
    // merged 2-char symbol is atomic for every later rank. Corpus-scale
    // trick is t30's: fold over the DISTINCT VOCAB only (Zipf: orders of
    // magnitude smaller than the token stream), then join multiplicities
    // back per doc. The oracle replays the identical fold with DuckDB's
    // list_reduce, term for term.
    "t37_bpe_apply" -> { (s, d) =>
      bpeDocSymbols(s, d)
        .withColumn("compression",
          round(col("n_chars").cast("double") / col("n_symbols"), 6))
        .orderBy("doc_id")
    },

    // T38: SHARD PACKING BY REAL TOKEN BUDGET — t10's deterministic
    // cumulative-sum packing re-keyed from whitespace word counts to
    // t37's actual BPE symbol counts, i.e. the composition a training-
    // data pipeline runs: tokenize-by-merge-table, then cut shards at a
    // fixed token budget. Same scalable shape as t10 (per-lang window
    // cumsum — one shuffle per lang partition, no driver loop; the fold
    // itself runs over the DISTINCT vocab like t37, so the expensive
    // part is sub-linear in the corpus). Docs with no [a-z]+ word carry
    // zero BPE tokens and are excluded by the same inner join both here
    // and in the oracle.
    "t38_bpe_shard_packing" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val syms = bpeDocSymbols(s, d).select(col("doc_id"), col("n_symbols"))
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      syms.join(docs, Seq("doc_id"))
        .withColumn("cum_before",
          sum(col("n_symbols")).over(w) - col("n_symbols"))
        .withColumn("shard", expr("cum_before DIV 4000"))
        .groupBy(col("lang"), col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_symbols")).as("shard_tokens"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("lang", "shard")
    },

    // T39: BPE TRAIN — the missing half of the BPE story (t30 counts
    // pairs ONCE; t37 applies a FIXED table): learn the merge table
    // itself with k rounds of count-top-pair → merge → recount over the
    // corpus vocabulary. Output: the learned table (merge_rank, sym1,
    // sym2, n_pairs-at-selection), ties broken (count DESC, sym1, sym2).
    //
    // REPRESENTATION: each symbol is independently delimiter-wrapped
    // ("the" → '|t||h||e|'), so one round's greedy left-to-right
    // non-overlapping merge — classic BPE tiling — is EXACTLY a plain
    // non-rescanning string replace('|p1||p2|', '|p1p2|'): adjacent
    // occurrences never share delimiter chars (the t37 single-bar form
    // would drop every second adjacent match), and a replacement can
    // never create a same-round match because symbols are bar-free.
    // Both engines' replace() scan the SOURCE left-to-right without
    // rescanning replacements, which IS the no-re-merge rule.
    //
    // SCALE: each round is ONE hash-agg over the Zipf-collapsed DISTINCT
    // vocab's adjacent-pair explosion (Σ|word| over vocab, sub-linear in
    // corpus — t30's trick), one TakeOrdered(1), one driver-side 1-row
    // collect (the control-plane idiom of the iterative graph loops),
    // and a narrow map rewriting `seg`. localCheckpoint per round keeps
    // the lineage flat at any k. The oracle replays all k rounds
    // CTE-by-CTE — census, top-1, rewrite — with the same replace().
    "t39_bpe_train" -> { (s, d) =>
      import s.implicits._
      bpeTrain(s, d)._1.toDF("merge_rank", "sym1", "sym2", "n_pairs")
        .orderBy("merge_rank")
    },

    // T40: TRAIN-THEN-APPLY — the composition a real tokenizer build
    // runs: t39's learned table applied back to the corpus. No second
    // apply pass exists or is needed: the training loop's FINAL vocab
    // segmentation IS the corpus tokenized under all k learned merges
    // (each round rewrote every vocab entry), so this query just counts
    // symbols per vocab word and joins per-doc multiplicities back —
    // t37's exact shape with the table learned instead of fixed. The
    // oracle reuses t39's CTE chain verbatim and reads v_k the same way,
    // so a divergence ANYWHERE in the k rounds shows up per-doc here
    // even if the learned pairs happened to agree.
    "t40_bpe_train_apply" -> { (s, d) =>
      val segged = bpeTrain(s, d)._2
        .withColumn("n_syms",
          size(expr("filter(split(seg, '[|]+'), x -> x != '')")).cast("long"))
        .select(col("word"), col("n_syms"))
      val wc = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word").rlike("^[a-z]+$"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
      wc.join(segged, Seq("word"))
        .groupBy("doc_id")
        .agg(sum(col("cnt")).as("n_words"),
          sum(length(col("word")).cast("long") * col("cnt")).as("n_chars"),
          sum(col("n_syms") * col("cnt")).as("n_symbols"))
        .withColumn("compression",
          round(col("n_chars").cast("double") / col("n_symbols"), 6))
        .orderBy("doc_id")
    },

    // T31: t11's contamination check with the BLOOM PRE-PASS t11's own
    // comment promises (the 100 TB fallback plan made concrete): sketch
    // the held-out n-gram hashes once (graft_bloom_agg scalar subquery —
    // one small broadcastable binary), drop non-candidate corpus grams
    // with graft_might_contain BEFORE the semi-join shuffle, then the
    // exact semi-join runs over survivors only to kill false positives.
    // Result is bit-identical to t11 (same oracle); the plan difference
    // is that (1-fp)·|clean grams| rows never reach the Exchange — at
    // 100 TB that is the difference between shuffling the corpus and
    // shuffling ~the contamination.
    "t31_bloom_contamination" -> { (s, d) =>
      // Materialized once (round 15, the t11 cut): FOUR consumers here —
      // bloom build, prefilter, exact semi-join bench side, per-doc sizes.
      val sh = shingles(Tables.documents(s, d), 4)
        .select(col("doc_id"),
          conv(substring(md5(col("sh")), 1, 15), 16, 10).cast("long").as("h"))
        .localCheckpoint() // eager (r16): 4 consumers, no action between (policy)
      val bench  = sh.filter(col("doc_id") % 7 === 0).select(col("h").as("bh")).distinct()
      val corpus = sh.filter(col("doc_id") % 7 =!= 0)
      val bloom  = bench.agg(
        call_function("graft_bloom_agg", col("bh"), lit(1000000L)).as("bf"))
      val pre    = corpus.filter(
        call_function("graft_might_contain", bloom.scalar(), col("h")))
      val sizes  = corpus.groupBy(col("doc_id")).agg(count(lit(1)).as("n_ngrams"))
      val hits   = pre.join(bench, col("h") === col("bh"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
      hits.join(sizes, Seq("doc_id"))
        .select(col("doc_id"), col("n_ngrams"), col("n_contaminated"),
          round(col("n_contaminated").cast("double") / col("n_ngrams"), 6)
            .as("contamination"))
        .orderBy("doc_id")
    },

    // E7: curation LINEAGE census — "where did my data go", the question
    // every pipeline debugging session starts with: each document gets a
    // FATE label through e6's production ordering (quality gate → exact
    // dedup → √-temperature sampling) — quality_drop / dup_drop /
    // sampled_out / kept — and the census counts docs and tokens per
    // (lang, fate). Fates partition the corpus exactly (spec-pinned), so
    // per-lang fate totals reconcile to raw counts and the 'kept' row
    // reconciles to e6's output. Plan shape: the per-doc stages are e6's
    // own (one metrics pass, one fp hash-agg, broadcast count/min rows);
    // the only additions are LEFT joins of per-doc rows onto the keeper
    // and count tables and one (lang, fate) hash agg — lineage costs one
    // extra join pass, not a pipeline re-run per stage. CASE arms are
    // ordered so gate columns are only consulted on keeper rows, where
    // the LEFT joins are guaranteed to have matched.
    "e7_curation_lineage" -> { (s, d) =>
      // [[curationBase]]: this query's ~30-byte-row checkpoint of
      // (doc_id, lang, keep, fp, n_tok) — the metrics chain and text
      // hashing run once, and the keeper derivation, counts, and fate
      // join all read it (plan lint: 25 exchanges before).
      val base = curationBase(s, d)
      val keepers = base.filter(col("keep") === 1)
        .groupBy(col("fp")).agg(min(col("doc_id")).as("keeper_id"),
          min(struct(col("doc_id"), col("lang"))).as("kr"))
      val counts = keepers.groupBy(col("kr.lang").as("klang"))
        .agg(count(lit(1)).as("n_docs"))
      val minN = counts.agg(min(col("n_docs")).as("min_n"))
      val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 1000000L
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val gatePass = u.cast(dec) * u * col("n_docs") <
        col("min_n").cast(dec) * lit(1000000000000L)
      base
        .join(keepers.select(col("fp"), col("keeper_id")), Seq("fp"), "left")
        .join(broadcast(counts), col("lang") === col("klang"), "left")
        .crossJoin(broadcast(minN))
        .withColumn("fate",
          when(col("keep") === 0, "quality_drop")
            .when(col("doc_id") =!= col("keeper_id"), "dup_drop")
            .when(!gatePass, "sampled_out")
            .otherwise("kept"))
        .groupBy(col("lang"), col("fate"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"))
        .orderBy("lang", "fate")
    },

    // T33: VOCABULARY DRIFT between two corpus slices — the
    // distribution-shift monitor a training pipeline runs between data
    // drops (dq6's numeric sibling for text): per language, the total
    // variation distance ½·Σ|p_tok − q_tok| between the token
    // distributions of the even-id and odd-id halves. The summation is
    // EXACT: |n_a·T_b − n_b·T_a| accumulated in DECIMAL(38,0) (order-free
    // integers; vocab ~10⁶ × counts ~10¹² stays far inside 38 digits),
    // with ONE double division at the very end — no per-token double
    // sums whose order could diverge between engines. Two hash aggs
    // (token census, per-lang fold) + a broadcast totals join; map-side
    // combine does the heavy lifting at any scale.
    "t33_vocab_drift" -> { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("lang"), (col("doc_id") % 2 === 0).as("is_a"),
          explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val counts = toks.groupBy(col("lang"), col("tok"))
        .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("na"),
          sum(when(!col("is_a"), 1L).otherwise(0L)).as("nb"))
      val tots = counts.groupBy(col("lang"))
        .agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      counts.join(broadcast(tots), Seq("lang"))
        .groupBy(col("lang"))
        .agg(max(col("ta")).as("ta"), max(col("tb")).as("tb"),
          sum(abs(col("na").cast(dec) * col("tb") -
            col("nb").cast(dec) * col("ta"))).as("num"))
        .select(col("lang"), col("ta"), col("tb"),
          round(col("num").cast("double") /
            (lit(2.0) * col("ta").cast("double") * col("tb").cast("double")), 6)
            .as("tvd"))
        .orderBy("lang")
    },

    // T34: BIGRAM LM SURPRISAL — the CCNet/RedPajama-style language-model
    // quality filter: train an add-half-smoothed bigram model on the
    // corpus itself, score each document by how improbable its token
    // sequence is, and surface the most surprising docs (the ones a
    // perplexity filter would cut as noise/boilerplate/garbled text).
    // LOG-FREE on purpose (the t18 rule): ln() is libm-dependent across
    // engines, so instead of Σ log(1/p) the per-bigram surprisal is the
    // INVERSE probability, floor-scaled to an integer —
    //   s = floor(1e6 · (2·c1 + V) / (2·c12 + 1))
    // (add-half smoothing: p = (c12 + ½)/(c1 + ½V), inverted and ×2/2) —
    // one exact-integer numerator, ONE correctly-rounded IEEE division,
    // one floor: bit-identical on both engines. Per-doc aggregation then
    // sums INTEGERS (order-independent, unlike a double Σ), and the mean
    // is exact integer micro-units (floor division — engines' round()
    // disagree at half-ulp boundaries; see the query body). Scale shape: bigram and
    // unigram LM tables are corpus aggregates joined back on the bigram
    // key — at 100 TB the LM table is Zipf-small relative to the corpus
    // (broadcast when it fits, shuffle join when not) and everything else
    // is map-side.
    "t34_bigram_surprisal" -> { (s, d) =>
      val toks = split(col("text"), " ")
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), toks.as("t"), size(toks).as("dl"))
        .filter(col("dl") >= 2)
      // Adjacent pairs without a self-join: posexplode the first dl−1
      // tokens, the successor is element_at(t, pos+2) on the same row.
      val bigrams = docs
        .select(col("doc_id"), col("t"),
          posexplode(slice(col("t"), lit(1), size(col("t")) - 1)))
        .select(col("doc_id"), col("col").as("w1"),
          element_at(col("t"), col("pos") + 2).as("w2"))
      val uni = docs.select(explode(col("t")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c1"))
      val vocab = uni.agg(count(lit(1)).as("v"))
      val bi = bigrams.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c12"))
      bigrams
        .join(bi, Seq("w1", "w2"))
        .join(uni.withColumnRenamed("w", "w1"), Seq("w1"))
        .crossJoin(broadcast(vocab))
        .withColumn("s", floor(
          (lit(1000000L) * (lit(2L) * col("c1") + col("v"))).cast("double") /
            (lit(2L) * col("c12") + lit(1L)).cast("double")).cast("long"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("s")).as("sum_surprisal"))
        // Mean in exact integer MICRO-units: (Σs · 10⁶) DIV n. The prior
        // round(double-division, 6) was bit-identical in the DIVISION but
        // not in the ROUNDING — Spark (BigDecimal HALF_UP on the exact
        // binary value) and DuckDB disagree by 1e-6 when the quotient
        // lands on a half-ulp boundary, which sf0.001's data hits (latent
        // until round 14). Integer floor has no boundary. No overflow:
        // Σs per doc ≤ ~1e10 (doc-length-bounded), ×10⁶ ≪ 2⁶³.
        .withColumn("mean_surprisal_micro",
          expr("(sum_surprisal * 1000000L) DIV n_bigrams"))
        .orderBy(col("mean_surprisal_micro").desc, col("doc_id").asc)
        .limit(25)
    },

    // T32: MinHash estimate-vs-truth AUDIT — the sketch-quality metric a
    // dedup deployment monitors (v8_ann_recall's sibling for the text
    // stack): for every LSH candidate pair, the signature-agreement
    // estimate (matching minhashes / 8 — the unbiased Jaccard estimator)
    // next to the TRUE shingle Jaccard and the absolute error. Tuning
    // nHashes/bands is a tradeoff read straight off this table. Cost is
    // one signature join per candidate pair (the estimate side is 8 long
    // comparisons, fixed-order sum) on top of the exact-Jaccard join t4
    // already pays; at 100 TB the audit runs on a sampled candidate
    // stream, same plan.
    "t32_minhash_estimate" -> { (s, d) =>
      val (sh, capped) = lsh3(s, d)
      val sets = docSets(sh).localCheckpoint()
      val pairs = candidatePairs(capped)
      val sig = signatures(sh, 8)
      val sa = sig.toDF("doc_a" +: (0 until 8).map(i => s"a$i"): _*)
      val sb = sig.toDF("doc_b" +: (0 until 8).map(i => s"b$i"): _*)
      val nMatch = (0 until 8)
        .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
        .reduce(_ + _)
      val truth = jaccard(pairs, sets, 0.0)
        .select(col("doc_a"), col("doc_b"), col("jaccard").as("true_jaccard"))
      pairs.join(sa, "doc_a").join(sb, "doc_b")
        .select(col("doc_a"), col("doc_b"), nMatch.as("n_match"))
        .join(truth, Seq("doc_a", "doc_b"))
        .select(col("doc_a"), col("doc_b"), col("n_match"),
          round(col("n_match") / 8.0, 6).as("est_jaccard"),
          col("true_jaccard"),
          round(abs(round(col("n_match") / 8.0, 6) - col("true_jaccard")), 6)
            .as("abs_err"))
        .orderBy("doc_a", "doc_b")
    }
  )

  /** 48-bit simhash signature per doc — ONE whole-stage-codegen aggregate
    * rather than a per-row HOF fold (HigherOrderFunctions don't codegen;
    * the fold was t24's entire 54.9 s runtime). Explode distinct tokens,
    * hash each token ONCE to its 48 leading md5 bits as a single long
    * (nibbles 1..12, high→low — the same bit order as expanding each hex
    * nibble's 4 bits in sequence), then take 48 ±1 majority sums per doc
    * in a single HashAggregate — partial (map-side) aggregation means the
    * doc_id shuffle carries 49 longs per doc, not the token stream.
    * Input needs (doc_id, text); returns (doc_id, sig).
    */
  private def simhashSigs(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tk"))
      .select(col("doc_id"),
        conv(md5(col("tk")).substr(lit(1), lit(12)), 16, 10).cast("long")
          .as("hv"))
    val bitSums = (0 to 47).map(k =>
      sum(shiftright(col("hv"), k).bitwiseAND(lit(1L)) * 2 - 1).as(s"s$k"))
    val sig = (0 to 47).map(k =>
      when(col(s"s$k") >= 0, lit(1L << k)).otherwise(lit(0L)): Column)
      .reduce(_ + _)
    toks.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sig.as("sig"))
  }

  /** Banded hamming-≤3 pair search over (doc_id, sig): 4 × 12-bit bands,
    * pigeonhole-complete at radius 3; exact xor-popcount verify on
    * same-bucket pairs. Returns (doc_a, doc_b, hamming).
    */
  private def simhashBandPairs(sigs: DataFrame): DataFrame = {
    val banded = sigs.select(col("doc_id"), col("sig"),
      explode(array((0 to 3).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), 36 - 12 * b).bitwiseAND(lit(0xFFFL))
            .as("bv"))): _*)).as("bk"))
      .select(col("doc_id"), col("sig"), col("bk.band"), col("bk.bv"))
    val a = banded.select(col("band"), col("bv"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("bv"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "bv")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  /** DuckDB mirror of [[simhashSigs]] over relation `rel` (must expose
    * doc_id, text): tok/bits/sig CTE chain, final relation `sig`.
    */
  private def simhashSigSql(rel: String): String =
    s"""tok AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tk FROM $rel
       |), bits AS (
       |  SELECT doc_id, j,
       |    SUM(CASE WHEN ((strpos('0123456789abcdef', substr(md5(tk), ((j-1)//4)+1, 1)) - 1)
       |          >> (3 - ((j-1)%4))) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM tok CROSS JOIN (SELECT unnest(range(1,49)) AS j)
       |  GROUP BY doc_id, j
       |), sig AS MATERIALIZED (
       |  SELECT doc_id, CAST(SUM(CASE WHEN s >= 0 THEN 1::BIGINT << (48-j) ELSE 0 END) AS BIGINT) AS sig
       |  FROM bits GROUP BY doc_id
       |)""".stripMargin

  /** Shared CTE chain for the t25/t27 repetition metrics (final relation
    * `m`): mirrors [[repetitionMetrics]] column-for-column.
    */
  private val repetitionOracleCtes: String =
    """WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
      |base AS (SELECT doc_id, len(tk) AS n FROM t),
      |tc AS (
      |  SELECT doc_id, w, COUNT(*) AS c
      |  FROM (SELECT doc_id, unnest(tk) AS w FROM t) GROUP BY doc_id, w
      |), ta AS (
      |  SELECT doc_id, MAX(c) AS top_tok, COUNT(*) AS n_uniq FROM tc GROUP BY doc_id
      |), gc AS (
      |  SELECT doc_id, gm, COUNT(*) AS c FROM (
      |    SELECT doc_id, tk[i] || ' ' || tk[i+1] AS gm
      |    FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM t)
      |  ) GROUP BY doc_id, gm
      |), ga AS (SELECT doc_id, MAX(c) AS top2 FROM gc GROUP BY doc_id),
      |m AS (
      |  SELECT base.doc_id AS doc_id, n AS n_tokens,
      |    round(n_uniq / n, 6) AS uniq_ratio,
      |    round(top_tok / n, 6) AS top_tok_frac,
      |    round(top2 * 2 / n, 6) AS top2_frac,
      |    CAST(round(n_uniq / n, 6) >= 0.35 AND round(top_tok / n, 6) <= 0.12
      |         AND round(top2 * 2 / n, 6) <= 0.10 AS INT) AS keep
      |  FROM base JOIN ta ON base.doc_id = ta.doc_id
      |  JOIN ga ON base.doc_id = ga.doc_id
      |)""".stripMargin

  /** DuckDB markerCount mirror: occurrences of " m " in the padded lowercase
    * text via length arithmetic (same non-overlapping replace semantics as
    * Spark's regexp_replace of the quoted literal).
    */
  private def mcSql(m: String): String = {
    val w = s" $m "
    s"CAST((length(padded) - length(replace(padded, ' $m ', ''))) / ${w.length} AS INT)"
  }

  private val langGuessSql: String = {
    val scoreDefs = langMarkers.map { case (lang, ms) =>
      s"(${ms.map(mcSql).mkString(" + ")}) AS s_$lang"
    }.mkString(", ")
    val best = s"greatest(${langMarkers.map { case (l, _) => s"s_$l" }.mkString(", ")})"
    val cases = langMarkers.map { case (l, _) =>
      s"WHEN s_$l = best AND s_$l > 0 THEN '$l'"
    }.mkString(" ")
    s"""scored AS (
       |  SELECT *, $scoreDefs FROM padded_docs
       |), best_scored AS (
       |  SELECT *, $best AS best FROM scored
       |), guessed AS (
       |  SELECT *, CASE $cases ELSE 'und' END AS lang_guess FROM best_scored
       |)""".stripMargin
  }

  private val swInList = stopwords.map(w => s"'$w'").mkString(", ")

  /** sw/mtl/pr component expressions over a relation exposing `text` and the
    * token array `t` — shared by the t7 oracle and the e3 pipeline oracle so
    * the quality arithmetic cannot diverge between them.
    */
  private val swSql =
    s"CAST(len(list_filter(t, x -> x IN ($swInList))) AS DOUBLE) / CAST(greatest(len(t), 1) AS DOUBLE)"
  private val mtlSql =
    "CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / CAST(greatest(len(t), 1) AS DOUBLE)"
  private val prSql =
    "CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE)"

  /** Composite quality score over sw/mtl/pr columns (mirror of
    * [[TextFunctions.qualityScore]]).
    */
  private val qualityExprSql =
    """round(least(1.0, greatest(0.0,
      |    0.4 * least(sw * 5.0, 1.0) + 0.4 * (CASE WHEN mtl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
      |    + 0.2 * (1.0 - least(pr * 10.0, 1.0)))), 6)""".stripMargin

  /** Shared by t15 (batch) and t17 (streaming foreachBatch) — one oracle
    * for one admission semantics. Reuses the full near-dup CTE prefix;
    * `cand`/`jac` inside it are plain (non-materialized) CTEs DuckDB never
    * evaluates unreferenced — only the cross-set xcand/xjac below run.
    */
  private lazy val incrementalDedupOracle: String = {
      val fpSql =        "md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))"
      s"""${neardupCtes(3, 8, 2)},
         |exfp AS (SELECT DISTINCT $fpSql AS fp FROM documents WHERE doc_id % 5 != 0),
         |infp AS (SELECT doc_id, $fpSql AS fp FROM documents WHERE doc_id % 5 = 0),
         |exact_dups AS (
         |  SELECT DISTINCT doc_id FROM infp WHERE fp IN (SELECT fp FROM exfp)
         |),
         |xcand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM capped a JOIN capped b ON a.band = b.band AND a.band_key = b.band_key
         |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 != 0
         |),
         |xjac AS (
         |  SELECT c.doc_a, count(*) AS inter, sa.n AS na, sb.n AS nb
         |  FROM xcand c
         |  JOIN sh x ON x.doc_id = c.doc_a
         |  JOIN sh y ON y.doc_id = c.doc_b AND y.sh = x.sh
         |  JOIN sizes sa ON sa.doc_id = c.doc_a
         |  JOIN sizes sb ON sb.doc_id = c.doc_b
         |  GROUP BY c.doc_a, c.doc_b, sa.n, sb.n
         |),
         |near_dups AS (
         |  SELECT DISTINCT doc_a AS doc_id FROM xjac
         |  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5
         |)
         |SELECT d.doc_id,
         |  CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
         |       WHEN n.doc_id IS NOT NULL THEN 'near_dup'
         |       ELSE 'kept' END AS status
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
         |LEFT JOIN exact_dups e ON e.doc_id = d.doc_id
         |LEFT JOIN near_dups n ON n.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin
  }

  /** Shared CTE prefix for the t22/t23 oracles: 20-token blocks per doc
    * (DuckDB's 1-based inclusive list slice clips the final partial block
    * exactly as Spark's `slice`).
    */
  private val blockCtes =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |blocks AS (
      |  SELECT doc_id, CAST(u.b AS BIGINT) AS b,
      |         array_to_string(t[(u.b*20+1):(u.b*20+20)], ' ') AS blk
      |  FROM toks, UNNEST(range((len(t) + 19) // 20)) AS u(b)
      |)""".stripMargin

  /** Shared census tail for the t22/t23 oracles (mirrors [[blockCensus]]):
    * `all` = the block universe counted per doc, `kept` = survivors.
    */
  private def blockCensusSql(all: String, kept: String): String =
    s"""nb AS (SELECT doc_id, COUNT(*) AS n_blocks FROM $all GROUP BY doc_id),
       |agg AS (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |         SUM(len(string_split(blk, ' '))) AS n_tokens_kept,
       |         md5(string_agg(blk, ' ' ORDER BY b)) AS kept_hash
       |  FROM $kept GROUP BY doc_id)
       |SELECT nb.doc_id, nb.n_blocks,
       |       CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
       |       CAST(COALESCE(a.n_tokens_kept, 0) AS BIGINT) AS n_tokens_kept,
       |       a.kept_hash
       |FROM nb LEFT JOIN agg a ON a.doc_id = nb.doc_id""".stripMargin

  /** t13's oracle margin, checked against the materialized census: the
    * oracle's 16 unrolled propagation rounds converge iff every cluster's
    * min-label eccentricity <= 16, and eccentricity <= n_members - 1, so
    * max 17 members is a sufficient bound. Applied by Verify post-write
    * and by VectorAndDedupSpec — never inside the query builder (laziness).
    */
  override val resultChecks: Map[String, DataFrame => Unit] = Map(
    "t13_neardup_clusters" -> { census =>
      val maxMembers = census.agg(max(col("n_members"))).head() match {
        case r if r.isNullAt(0) => 0L
        case r                  => r.getLong(0)
      }
      require(maxMembers <= 17,
        s"largest near-dup cluster has $maxMembers members; the oracle " +
          "unrolls only 16 propagation rounds — widen it")
    },
    // Same margin for t21 (its oracle shares clusterCtes): members-per-rep
    // + 1 == n_members, so the bound is 16 members per representative.
    "t21_tiered_verify" -> { verify =>
      val maxMembers = verify.groupBy(col("cluster_rep"))
        .agg(count(lit(1)).as("m")).agg(max(col("m"))).head() match {
        case r if r.isNullAt(0) => 0L
        case r                  => r.getLong(0)
      }
      require(maxMembers <= 16,
        s"largest t21 cluster has ${maxMembers + 1} members; the oracle " +
          "unrolls only 16 propagation rounds — widen it")
    }
  )

  val oracle: Map[String, String] = Map(
    "t1_token_stats" ->
      """SELECT doc_id, len(string_split(text,' ')) AS n_tokens,
        |  len(list_distinct(string_split(text,' '))) AS n_distinct,
        |  round(CAST(list_sum(list_transform(string_split(text,' '), x -> length(x))) AS DOUBLE)
        |    / CAST(greatest(len(string_split(text,' ')), 1) AS DOUBLE), 6) AS mean_tok_len,
        |  length(text) AS n_chars_actual
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t2_term_freq" ->
      """SELECT term, count(*) AS df FROM (
        |  SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS term FROM documents
        |) GROUP BY term ORDER BY df DESC, term ASC LIMIT 50""".stripMargin,

    // Integer rarity sum (SCALE // df) exactly as the Spark side; the one
    // double division at the end mirrors the same tree.
    "t20_rarity" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term FROM documents
        |), dft AS (
        |  SELECT term, COUNT(*) AS df FROM terms GROUP BY term
        |)
        |SELECT t.doc_id, COUNT(*) AS n_terms,
        |  round(CAST(SUM(1000000000000 // df) AS DOUBLE) / COUNT(*) / 1000000000000.0, 6) AS rarity
        |FROM terms t JOIN dft USING (term)
        |GROUP BY t.doc_id
        |ORDER BY rarity DESC, t.doc_id ASC LIMIT 50""".stripMargin,

    // Expression tree mirrors the Spark side token-for-token (see the
    // t18 comment there: IEEE determinism needs the identical tree).
    // Every fractional literal is cast ::DOUBLE: DuckDB parses bare
    // decimals as DECIMAL and would otherwise evaluate e.g. tf * 2.2
    // exactly in decimal before converting — a 1–2 ulp divergence from
    // Spark's double(2.2) * tf. With the casts both engines run the
    // same all-double tree.
    "t18_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text,' ') AS t,
        |    len(string_split(text,' ')) AS dl
        |  FROM documents
        |), stats AS (
        |  SELECT COUNT(*) AS n_docs,
        |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
        |    COUNT(CASE WHEN list_contains(t,'hash') THEN 1 END) AS df_hash,
        |    COUNT(CASE WHEN list_contains(t,'stream') THEN 1 END) AS df_stream,
        |    COUNT(CASE WHEN list_contains(t,'vector') THEN 1 END) AS df_vector
        |  FROM toks
        |), scored AS (
        |  SELECT doc_id, dl,
        |    len(list_filter(t, x -> x = 'hash')) AS tf_hash,
        |    len(list_filter(t, x -> x = 'stream')) AS tf_stream,
        |    len(list_filter(t, x -> x = 'vector')) AS tf_vector,
        |    n_docs, avgdl, df_hash, df_stream, df_vector
        |  FROM toks CROSS JOIN stats
        |)
        |SELECT doc_id, dl, tf_hash, tf_stream, tf_vector,
        |  round(
        |    ((n_docs - df_hash + 0.5::DOUBLE) / (df_hash + 0.5::DOUBLE)) * ((tf_hash * 2.2::DOUBLE) / (tf_hash + 1.2::DOUBLE * (0.25::DOUBLE + (0.75::DOUBLE * dl) / avgdl)))
        |    + ((n_docs - df_stream + 0.5::DOUBLE) / (df_stream + 0.5::DOUBLE)) * ((tf_stream * 2.2::DOUBLE) / (tf_stream + 1.2::DOUBLE * (0.25::DOUBLE + (0.75::DOUBLE * dl) / avgdl)))
        |    + ((n_docs - df_vector + 0.5::DOUBLE) / (df_vector + 0.5::DOUBLE)) * ((tf_vector * 2.2::DOUBLE) / (tf_vector + 1.2::DOUBLE * (0.25::DOUBLE + (0.75::DOUBLE * dl) / avgdl)))
        |  , 6) AS bm25
        |FROM scored
        |ORDER BY bm25 DESC, doc_id ASC LIMIT 25""".stripMargin,

    "t3_exact_dedup" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents
        |), fps AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp
        |  FROM all_docs
        |)
        |SELECT fp, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
        |FROM fps GROUP BY fp ORDER BY keeper_id""".stripMargin,

    "t4_minhash_neardup" -> neardupSql(n = 3, nHashes = 8, bandSize = 2, threshold = "0.5"),

    // Star-contraction labels equal min-label-propagation fixpoint labels,
    // so the oracle unrolls 16 propagation rounds over the SAME pair CTEs
    // (near-dup chains are far shallower than 16; MATERIALIZED keeps each
    // round incremental — plain CTEs re-inline exponentially). The
    // pairs→l16 fragment is [[clusterCtes]], shared verbatim with t21.
    "t13_neardup_clusters" ->
      s"""${neardupCtes(3, 8, 2)},
         |$clusterCtes
         |SELECT lbl AS cluster_rep, COUNT(*) AS n_members, MAX(id) AS max_member
         |FROM l16 GROUP BY lbl ORDER BY cluster_rep""".stripMargin,

    // Mirrors the three tiers exactly: the exact-dedup CTEs are spliced in
    // ahead of the shared banding body (src = dedup), the cluster CTEs are
    // byte-identical to t13's, and the member-vs-rep verify computes the
    // full levenshtein (DuckDB has no threshold variant — fine at oracle
    // scale) with the MaxEdit bound applied as a CASE, matching the
    // engine's early-abandoned −1 rows and NULL sims exactly.
    "t21_tiered_verify" -> {
      val pre =
        """all_docs AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL SELECT doc_id + 100000, text FROM documents
          |), fps AS (
          |  SELECT doc_id, text,
          |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp
          |  FROM all_docs
          |), keepers AS (
          |  SELECT MIN(doc_id) AS doc_id FROM fps GROUP BY fp
          |), dedup AS MATERIALIZED (
          |  SELECT f.doc_id, f.text FROM fps f JOIN keepers k ON k.doc_id = f.doc_id
          |), """.stripMargin
      s"""${neardupCtes(3, 8, 2, src = "dedup", pre = pre)},
         |$clusterCtes,
         |members AS (
         |  SELECT lbl AS cluster_rep, id AS member FROM l16 WHERE id <> lbl
         |)
         |SELECT m.cluster_rep, m.member,
         |  CASE WHEN levenshtein(dr.text, dm.text) <= $MaxEdit
         |       THEN levenshtein(dr.text, dm.text) ELSE -1 END AS edit_dist,
         |  CASE WHEN levenshtein(dr.text, dm.text) <= $MaxEdit
         |       THEN round(1.0 - CAST(levenshtein(dr.text, dm.text) AS DOUBLE)
         |                  / greatest(length(dr.text), length(dm.text)), 6)
         |  END AS sim
         |FROM members m
         |JOIN dedup dr ON dr.doc_id = m.cluster_rep
         |JOIN dedup dm ON dm.doc_id = m.member
         |ORDER BY cluster_rep, member""".stripMargin
    },

    // t35 truth, CTE-for-CTE: every 15-token window hashed (0-based start
    // p, same md5-of-space-joined-slice as the Spark side), global first
    // occurrence by the packed doc_id*2^20+p key, mask-union removal (a
    // token index is cut iff any losing occurrence's [p, p+15) covers it),
    // census over the surviving order-preserved tokens.
    "t35_span_dedup" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |spans AS (
         |  SELECT doc_id, CAST(u.p AS BIGINT) AS p,
         |         md5(array_to_string(t[u.p+1 : u.p+$SpanW], ' ')) AS sh
         |  FROM toks, UNNEST(range(len(t) - ${SpanW - 1})) AS u(p)
         |  WHERE len(t) >= $SpanW),
         |occ AS (SELECT doc_id, p, sh, doc_id * 1048576 + p AS occ FROM spans),
         |keep AS (SELECT sh, MIN(occ) AS keep_occ FROM occ GROUP BY sh),
         |cuts AS (SELECT o.doc_id, o.p FROM occ o
         |         JOIN keep k ON o.sh = k.sh AND o.occ <> k.keep_occ),
         |tok_rows AS (
         |  SELECT doc_id, CAST(u.i AS BIGINT) AS i, t[u.i+1] AS tok
         |  FROM toks, UNNEST(range(len(t))) AS u(i)),
         |removed AS (
         |  SELECT DISTINCT r.doc_id, r.i FROM tok_rows r
         |  JOIN cuts c ON c.doc_id = r.doc_id
         |             AND r.i >= c.p AND r.i < c.p + $SpanW),
         |kept AS (
         |  SELECT r.doc_id, r.i, r.tok FROM tok_rows r
         |  LEFT JOIN removed x ON x.doc_id = r.doc_id AND x.i = r.i
         |  WHERE x.doc_id IS NULL),
         |census AS (
         |  SELECT doc_id, COUNT(*) AS n_kept,
         |         md5(string_agg(tok, ' ' ORDER BY i)) AS kh
         |  FROM kept GROUP BY doc_id)
         |SELECT td.doc_id,
         |  CAST(len(td.t) AS BIGINT) AS n_tokens,
         |  CAST(len(td.t) - COALESCE(c.n_kept, 0) AS BIGINT) AS n_removed,
         |  c.kh AS kept_hash
         |FROM toks td
         |LEFT JOIN census c ON c.doc_id = td.doc_id
         |ORDER BY td.doc_id""".stripMargin,

    // t36: same span CTEs with the standing corpus (doc_id % 5 <> 0) as a
    // MATERIALIZED distinct-hash set; corpus-seen batch spans cut at
    // every occurrence, corpus-fresh spans get t35's first-occurrence
    // pass within the batch, and the same mask-union census runs over
    // the batch docs only.
    "t36_incremental_span_dedup" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
         |  WHERE doc_id % 5 = 0),
         |corpus_sh AS MATERIALIZED (
         |  SELECT DISTINCT md5(array_to_string(t[u.p+1 : u.p+$SpanW], ' ')) AS sh
         |  FROM (SELECT string_split(text, ' ') AS t FROM documents
         |        WHERE doc_id % 5 <> 0) c,
         |       UNNEST(range(len(t) - ${SpanW - 1})) AS u(p)
         |  WHERE len(t) >= $SpanW),
         |spans AS (
         |  SELECT doc_id, CAST(u.p AS BIGINT) AS p,
         |         md5(array_to_string(t[u.p+1 : u.p+$SpanW], ' ')) AS sh
         |  FROM toks, UNNEST(range(len(t) - ${SpanW - 1})) AS u(p)
         |  WHERE len(t) >= $SpanW),
         |seen_cuts AS (
         |  SELECT doc_id, p FROM spans WHERE sh IN (SELECT sh FROM corpus_sh)),
         |fresh AS (
         |  SELECT doc_id, p, sh, doc_id * 1048576 + p AS occ FROM spans
         |  WHERE sh NOT IN (SELECT sh FROM corpus_sh)),
         |keep AS (SELECT sh, MIN(occ) AS keep_occ FROM fresh GROUP BY sh),
         |fresh_cuts AS (
         |  SELECT f.doc_id, f.p FROM fresh f
         |  JOIN keep k ON f.sh = k.sh AND f.occ <> k.keep_occ),
         |cuts AS (
         |  SELECT doc_id, p FROM seen_cuts
         |  UNION ALL SELECT doc_id, p FROM fresh_cuts),
         |tok_rows AS (
         |  SELECT doc_id, CAST(u.i AS BIGINT) AS i, t[u.i+1] AS tok
         |  FROM toks, UNNEST(range(len(t))) AS u(i)),
         |removed AS (
         |  SELECT DISTINCT r.doc_id, r.i FROM tok_rows r
         |  JOIN cuts c ON c.doc_id = r.doc_id
         |             AND r.i >= c.p AND r.i < c.p + $SpanW),
         |kept AS (
         |  SELECT r.doc_id, r.i, r.tok FROM tok_rows r
         |  LEFT JOIN removed x ON x.doc_id = r.doc_id AND x.i = r.i
         |  WHERE x.doc_id IS NULL),
         |census AS (
         |  SELECT doc_id, COUNT(*) AS n_kept,
         |         md5(string_agg(tok, ' ' ORDER BY i)) AS kh
         |  FROM kept GROUP BY doc_id)
         |SELECT td.doc_id,
         |  CAST(len(td.t) AS BIGINT) AS n_tokens,
         |  CAST(len(td.t) - COALESCE(c.n_kept, 0) AS BIGINT) AS n_removed,
         |  c.kh AS kept_hash
         |FROM toks td
         |LEFT JOIN census c ON c.doc_id = td.doc_id
         |ORDER BY td.doc_id""".stripMargin,

    // Mirrors the Spark block pipeline CTE-for-CTE: same 20-token blocks
    // (list slice clips the last partial block on both engines), same
    // packed doc_id*2^20+b first-occurrence key, same md5 reassembly hash
    // (string_agg ORDER BY b == concat_ws over the sorted struct array).
    "t22_block_dedup" ->
      s"""WITH $blockCtes,
         |occ AS (SELECT doc_id, b, blk, md5(blk) AS bh,
         |               doc_id * 1048576 + b AS occ FROM blocks),
         |keep AS (SELECT bh, MIN(occ) AS keep_occ FROM occ GROUP BY bh),
         |kept AS (SELECT o.doc_id, o.b, o.blk FROM occ o
         |         JOIN keep k ON o.bh = k.bh AND o.occ = k.keep_occ),
         |${blockCensusSql("blocks", "kept")}
         |ORDER BY nb.doc_id""".stripMargin,

    // t23: same block CTEs, with the standing corpus (doc_id % 5 != 0) as
    // a distinct-hash set and the batch anti-joined against it before
    // t22's within-batch first-occurrence pass.
    "t23_incremental_block_dedup" ->
      s"""WITH $blockCtes,
         |corpus_bh AS MATERIALIZED (
         |  SELECT DISTINCT md5(blk) AS bh FROM blocks WHERE doc_id % 5 <> 0),
         |batch AS MATERIALIZED (
         |  SELECT doc_id, b, blk, md5(blk) AS bh FROM blocks WHERE doc_id % 5 = 0),
         |fresh AS (
         |  SELECT * FROM batch f
         |  WHERE NOT EXISTS (SELECT 1 FROM corpus_bh c WHERE c.bh = f.bh)),
         |occ AS (SELECT doc_id, b, blk, bh,
         |               doc_id * 1048576 + b AS occ FROM fresh),
         |keep AS (SELECT bh, MIN(occ) AS keep_occ FROM occ GROUP BY bh),
         |kept AS (SELECT o.doc_id, o.b, o.blk FROM occ o
         |         JOIN keep k ON o.bh = k.bh AND o.occ = k.keep_occ),
         |${blockCensusSql("batch", "kept")}
         |ORDER BY nb.doc_id""".stripMargin,

    // Reuses the t4 banding CTEs through `cand`; the trailing `jac` CTE is
    // plain (not MATERIALIZED), so DuckDB never evaluates it here. DuckDB
    // computes the full DP (it has no threshold variant — fine at oracle
    // scale) and the MaxEdit bound is applied as a filter, matching the
    // engine's early-abandoned -1 rows exactly.
    "t19_fuzzy_verify" ->
      s"""${neardupCtes(n = 3, nHashes = 8, bandSize = 2)}
         |SELECT doc_a, doc_b, edit_dist,
         |  round(1.0 - CAST(edit_dist AS DOUBLE) / greatest(la, lb), 6) AS sim
         |FROM (
         |  SELECT c.doc_a, c.doc_b, levenshtein(da.text, db.text) AS edit_dist,
         |    length(da.text) AS la, length(db.text) AS lb
         |  FROM cand c
         |  JOIN documents da ON da.doc_id = c.doc_a
         |  JOIN documents db ON db.doc_id = c.doc_b
         |) WHERE edit_dist <= $MaxEdit
         |ORDER BY doc_a, doc_b""".stripMargin,

    "t5_ngram_jaccard" -> neardupSql(n = 2, nHashes = 4, bandSize = 2, threshold = "0.6"),

    "t6_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tk FROM documents
        |), bits AS (
        |  SELECT doc_id, j,
        |    SUM(CASE WHEN substr(md5(tk), j, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s
        |  FROM tok CROSS JOIN (SELECT unnest(range(1, 17)) AS j)
        |  GROUP BY doc_id, j
        |)
        |SELECT doc_id, string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t8_rolling_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split_regex(text, ''), x -> CAST(ascii(x) AS BIGINT))),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS rhash,
        |  list_min(list_transform(range(1, greatest(length(text) - 30, 2)),
        |    i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split_regex(substr(text, i, 32), ''), x -> CAST(ascii(x) AS BIGINT))),
        |         (acc, x) -> (acc * 31 + x) % 1000000007))) AS winnow_fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t10_token_packing" ->
      """WITH docs AS (
        |  SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
        |), packed AS (
        |  SELECT lang, doc_id, n_tokens,
        |    CAST((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) // 2000
        |         AS BIGINT) AS shard
        |  FROM docs
        |)
        |SELECT lang, shard, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens, MIN(doc_id) AS first_doc
        |FROM packed GROUP BY lang, shard ORDER BY lang, shard""".stripMargin,

    "t9_stratified_split" ->
      """WITH assigned AS (
        |  SELECT lang, doc_id,
        |    CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split
        |  FROM (
        |    SELECT *, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS h
        |    FROM documents
        |  )
        |)
        |SELECT lang, split, COUNT(*) AS n_docs, MIN(doc_id) AS min_id
        |FROM assigned GROUP BY lang, split ORDER BY lang, split""".stripMargin,

    "t16_quality_percentile" ->
      s"""WITH docs AS (
         |  SELECT doc_id, lang, text, string_split(text, ' ') AS t FROM documents
         |), scored AS (
         |  SELECT doc_id, lang, $qualityExprSql AS quality FROM (
         |    SELECT doc_id, lang,
         |      $swSql AS sw,
         |      $mtlSql AS mtl,
         |      $prSql AS pr
         |    FROM docs
         |  )
         |), ranked AS (
         |  SELECT *, percent_rank() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id ASC) AS pr
         |  FROM scored
         |)
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN pr <= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  round(MIN(CASE WHEN pr <= 0.5 THEN quality END), 6) AS cutoff_quality
         |FROM ranked GROUP BY lang ORDER BY lang""".stripMargin,

    // Reuses the full near-dup CTE prefix; `cand`/`jac` inside it are
    // plain (non-materialized) CTEs DuckDB never evaluates unreferenced —
    // only the cross-set xcand/xjac below run.
    "t15_incremental_dedup" -> incrementalDedupOracle,

    // The stream must land exactly the batch admission decision.
    "t17_stream_incremental_dedup" -> incrementalDedupOracle,

    "t14_mixture_balance" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
        |m AS (SELECT MIN(n_docs) AS min_n FROM c),
        |k AS (
        |  SELECT d.lang, c.n_docs,
        |    CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS h
        |  FROM documents d JOIN c USING (lang)
        |)
        |SELECT lang, ANY_VALUE(n_docs) AS n_docs,
        |  CAST(SUM(CASE WHEN h * n_docs < (SELECT min_n FROM m) * 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  round(CAST(SUM(CASE WHEN h * n_docs < (SELECT min_n FROM m) * 1000000 THEN 1 ELSE 0 END) AS DOUBLE) / ANY_VALUE(n_docs), 6) AS kept_frac
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin,

    "t11_contamination" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)-2), i -> array_to_string(t[i:i+3], ' ')))) AS sh
        |  FROM tok WHERE len(t) >= 4
        |), h AS (
        |  SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS h FROM sh
        |), bench AS (SELECT DISTINCT h FROM h WHERE doc_id % 7 = 0),
        |corpus AS (SELECT doc_id, h FROM h WHERE doc_id % 7 != 0),
        |sizes AS (SELECT doc_id, count(*) AS n_ngrams FROM corpus GROUP BY doc_id),
        |hits AS (
        |  SELECT doc_id, count(*) AS n_contaminated FROM corpus
        |  WHERE h IN (SELECT h FROM bench) GROUP BY doc_id
        |)
        |SELECT s.doc_id, n_ngrams, n_contaminated,
        |  round(CAST(n_contaminated AS DOUBLE) / n_ngrams, 6) AS contamination
        |FROM hits JOIN sizes s ON s.doc_id = hits.doc_id
        |ORDER BY s.doc_id""".stripMargin,

    "t12_repetition" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3
        |), tg AS (
        |  SELECT doc_id, len(tk) AS n_tokens,
        |    list_transform(generate_series(1, len(tk) - 2),
        |      i -> array_to_string(tk[i:i+2], ' ')) AS tri
        |  FROM d
        |)
        |SELECT doc_id, n_tokens, len(tri) AS n_trigrams,
        |  len(list_distinct(tri)) AS n_distinct,
        |  round(1.0 - len(list_distinct(tri)) / len(tri), 6) AS rep_ratio,
        |  round(1.0 - len(list_distinct(tri)) / len(tri), 6) > 0.2 AS repetitive
        |FROM tg ORDER BY doc_id""".stripMargin,

    "t7_lang_quality" ->
      s"""WITH padded_docs AS (
         |  SELECT doc_id, lang, text, ' ' || lower(text) || ' ' AS padded,
         |    string_split(text, ' ') AS t
         |  FROM documents
         |), $langGuessSql, q AS (
         |  SELECT doc_id, lang, lang_guess,
         |    $swSql AS sw,
         |    $mtlSql AS mtl,
         |    $prSql AS pr
         |  FROM guessed
         |)
         |SELECT doc_id, lang, lang_guess, round(sw, 6) AS stopword_ratio,
         |  round(mtl, 6) AS mean_tok_len,
         |  $qualityExprSql AS quality
         |FROM q ORDER BY doc_id""".stripMargin,

    "e3_corpus_pipeline" ->
      s"""WITH docs AS (
         |  SELECT doc_id, lang, text, string_split(text, ' ') AS t FROM documents
         |), scored AS (
         |  SELECT doc_id, lang, text, $qualityExprSql AS quality FROM (
         |    SELECT doc_id, lang, text,
         |      $swSql AS sw,
         |      $mtlSql AS mtl,
         |      $prSql AS pr
         |    FROM docs
         |  )
         |), filtered AS (
         |  SELECT doc_id, lang, text,
         |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp
         |  FROM scored WHERE quality >= 0.5
         |), deduped AS (
         |  SELECT doc_id, lang, text FROM (
         |    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM filtered
         |  ) WHERE rn = 1
         |), splitx AS (
         |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens,
         |    CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM (
         |    SELECT *, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS h
         |    FROM deduped
         |  )
         |), packed AS (
         |  SELECT lang, split, doc_id, n_tokens,
         |    CAST((SUM(n_tokens) OVER (PARTITION BY lang, split ORDER BY doc_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) // 2000
         |         AS BIGINT) AS shard
         |  FROM splitx
         |)
         |SELECT lang, split, shard, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens, MIN(doc_id) AS first_doc
         |FROM packed GROUP BY lang, split, shard ORDER BY lang, split, shard""".stripMargin,

    "t7_slice_stats" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(CAST(CAST(n_chars AS DOUBLE) AS DECIMAL(28,4))) AS DOUBLE) / COUNT(n_chars) AS avg_chars,
        |  CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    // BRUTE-FORCE all-pairs hamming ≤ 3 — deliberately NOT the banded
    // plan: matching hashes prove the 4-band LSH candidate set is complete
    // at radius 3 (pigeonhole), not just self-consistent. Signature
    // arithmetic mirrors the Spark tree bit-for-bit: same md5 nibble →
    // 4 bits expansion, same ±1 majority, same MSB-first packing.
    "t24_simhash_band" ->
      s"""WITH ${simhashSigSql("documents")}
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,

    // Same brute-force completeness contract as t24's oracle, over the
    // exact-dup representatives, with the collapsed multiplicities.
    "t29_simhash_tiered" ->
      s"""WITH reps AS MATERIALIZED (
         |  SELECT MIN(doc_id) AS doc_id, arg_min(text, doc_id) AS text, COUNT(*) AS m
         |  FROM documents GROUP BY md5(text)
         |),
         |${simhashSigSql("reps")}
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming,
         |  ma.m * mb.m AS n_pairs
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |JOIN reps ma ON ma.doc_id = a.doc_id
         |JOIN reps mb ON mb.doc_id = b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,

    "t25_repetition_filter" ->
      s"""$repetitionOracleCtes
         |SELECT * FROM m ORDER BY doc_id""".stripMargin,

    // Stream shares t25's arithmetic restricted to survivors (the batch-
    // boundary-invariance contract: per-doc metrics, no cross-doc state).
    "t27_stream_quality_gate" ->
      s"""$repetitionOracleCtes
         |SELECT * FROM m WHERE keep = 1 ORDER BY doc_id""".stripMargin,

    // Stage-for-stage replay of the composed pipeline: t25's metric CTEs,
    // the survivor join, the arg_min keeper dedup, t26's integer gate over
    // post-dedup counts, and the census.
    "e6_curation_pipeline" ->
      s"""$repetitionOracleCtes,
         |kept AS (
         |  SELECT d.doc_id, d.lang, d.text FROM documents d
         |  JOIN m ON d.doc_id = m.doc_id AND m.keep = 1
         |),
         |dedup AS MATERIALIZED (
         |  SELECT MIN(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang,
         |         arg_min(text, doc_id) AS text
         |  FROM kept GROUP BY md5(text)
         |),
         |counts AS (SELECT lang, COUNT(*) AS n_docs FROM dedup GROUP BY lang),
         |mn AS (SELECT MIN(n_docs) AS min_n FROM counts),
         |sampled AS (
         |  SELECT dd.lang, dd.doc_id, dd.text
         |  FROM dedup dd JOIN counts c ON dd.lang = c.lang CROSS JOIN mn
         |  WHERE CAST(CAST(('0x' || substr(md5(CAST(dd.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS DECIMAL(38,0))
         |        * (CAST(('0x' || substr(md5(CAST(dd.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000)
         |        * c.n_docs < CAST(mn.min_n AS DECIMAL(38,0)) * 1000000000000
         |)
         |SELECT lang, COUNT(*) AS n_kept,
         |  CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS n_tokens,
         |  MIN(doc_id) AS first_doc
         |FROM sampled GROUP BY lang ORDER BY lang""".stripMargin,

    // Same stage arithmetic as e6's oracle; the CASE arms are ordered so
    // gate columns are only consulted where the LEFT joins matched.
    "e7_curation_lineage" ->
      s"""$repetitionOracleCtes,
         |ldocs AS (
         |  SELECT d.doc_id, d.lang, d.text, m.keep, md5(d.text) AS fp
         |  FROM documents d JOIN m ON d.doc_id = m.doc_id
         |),
         |keepers AS MATERIALIZED (
         |  SELECT fp, MIN(doc_id) AS keeper_id, arg_min(lang, doc_id) AS klang
         |  FROM ldocs WHERE keep = 1 GROUP BY fp
         |),
         |counts AS (SELECT klang, COUNT(*) AS n_docs FROM keepers GROUP BY klang),
         |mn AS (SELECT MIN(n_docs) AS min_n FROM counts),
         |fates AS (
         |  SELECT b.lang,
         |    CASE WHEN b.keep = 0 THEN 'quality_drop'
         |         WHEN b.doc_id <> k.keeper_id THEN 'dup_drop'
         |         WHEN NOT (CAST(CAST(('0x' || substr(md5(CAST(b.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS DECIMAL(38,0))
         |                   * (CAST(('0x' || substr(md5(CAST(b.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000)
         |                   * c.n_docs < CAST(mn.min_n AS DECIMAL(38,0)) * 1000000000000)
         |           THEN 'sampled_out'
         |         ELSE 'kept' END AS fate,
         |    len(string_split(b.text, ' ')) AS ntok
         |  FROM ldocs b
         |  LEFT JOIN keepers k ON b.fp = k.fp
         |  LEFT JOIN counts c ON b.lang = c.klang
         |  CROSS JOIN mn
         |)
         |SELECT lang, fate, COUNT(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS n_tokens
         |FROM fates GROUP BY lang, fate ORDER BY lang, fate""".stripMargin,

    "t28_token_mixture" ->
      """WITH docs AS (
        |  SELECT doc_id, lang, len(string_split(text,' ')) AS n_tokens FROM documents
        |), w AS (
        |  SELECT * FROM (VALUES ('en', 30), ('de', 20), ('es', 20),
        |                        ('fr', 15), ('zh', 15)) AS t(lang, w_num)
        |), totals AS (SELECT lang, SUM(n_tokens) AS t_l FROM docs GROUP BY lang),
        |b AS (SELECT CAST(SUM(n_tokens) // 2 AS BIGINT) AS b FROM docs),
        |u AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS u
        |  FROM docs
        |)
        |SELECT doc_id, u.lang, n_tokens
        |FROM u JOIN totals ON u.lang = totals.lang
        |       JOIN w ON u.lang = w.lang CROSS JOIN b
        |WHERE CAST(u AS DECIMAL(38,0)) * t_l * 100 < CAST(w_num AS DECIMAL(38,0)) * b * 1000000
        |ORDER BY doc_id""".stripMargin,

    "t26_temperature_sample" ->
      """WITH counts AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
        |mn AS (SELECT MIN(n_docs) AS min_n FROM counts),
        |u AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS u
        |  FROM documents
        |)
        |SELECT doc_id, u.lang FROM u JOIN counts ON u.lang = counts.lang CROSS JOIN mn
        |WHERE CAST(u AS DECIMAL(38,0)) * u * n_docs < CAST(min_n AS DECIMAL(38,0)) * 1000000000000
        |ORDER BY doc_id""".stripMargin,

    // Mirrors the vocab-first structure: pair generation over DISTINCT
    // words with multiplicity, exactly like the Spark plan.
    "t30_bpe_pairs" ->
      """WITH words AS (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents
        |), wf AS (
        |  SELECT word, COUNT(*) AS n FROM words
        |  WHERE word <> '' AND length(word) >= 2 GROUP BY word
        |), pairs AS (
        |  SELECT unnest([substring(word, i, 2) for i in generate_series(1, length(word)-1)]) AS pair, n
        |  FROM wf
        |)
        |SELECT pair, CAST(SUM(n) AS BIGINT) AS n_pairs FROM pairs
        |GROUP BY pair ORDER BY n_pairs DESC, pair ASC LIMIT 100""".stripMargin,

    // The identical sentinel-string fold, rank by rank, via DuckDB's
    // list_reduce — a merge fires only on an exact symbol-boundary match
    // (ends_with '|p1|'), so both engines tile greedily left-to-right
    // without re-merging fresh symbols.
    "t37_bpe_apply" ->
      s"""$BpeOracleDocsyms
         |SELECT doc_id, n_words, n_chars, n_symbols,
         |  round(CAST(n_chars AS DOUBLE) / n_symbols, 6) AS compression
         |FROM docsyms ORDER BY doc_id""".stripMargin,

    // t38: the SAME docsyms chain as t37, then t10's cumulative-sum
    // packing keyed by the real BPE symbol count (budget 4000/shard).
    "t38_bpe_shard_packing" ->
      s"""$BpeOracleDocsyms, packed AS (
         |  SELECT d.lang, ds.doc_id, ds.n_symbols,
         |    CAST((SUM(ds.n_symbols) OVER (PARTITION BY d.lang ORDER BY ds.doc_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ds.n_symbols) // 4000
         |         AS BIGINT) AS shard
         |  FROM docsyms ds JOIN documents d ON ds.doc_id = d.doc_id
         |)
         |SELECT lang, shard, COUNT(*) AS n_docs,
         |  CAST(SUM(n_symbols) AS BIGINT) AS shard_tokens, MIN(doc_id) AS first_doc
         |FROM packed GROUP BY lang, shard ORDER BY lang, shard""".stripMargin,

    // t39: replay ALL k training rounds CTE-by-CTE — pair census over the
    // doubled-delimiter segmentation, deterministic top-1, replace()
    // rewrite (same non-rescanning semantics as Spark's) — then emit the
    // learned table. The 1-row top{i} CTEs cross-join into the rewrite,
    // which is DuckDB's way of threading the learned literal through.
    "t39_bpe_train" -> {
      val out = (1 to BpeTrainRounds).map(i =>
        s"SELECT CAST($i AS INT) AS merge_rank, s1 AS sym1, s2 AS sym2, " +
          s"CAST(np AS BIGINT) AS n_pairs FROM top$i").mkString("\nUNION ALL\n")
      s"""$BpeTrainOracleChain
         |SELECT * FROM ($out) ORDER BY merge_rank""".stripMargin
    },

    // t40: the SAME training chain, then read the final vocab v_k as the
    // applied tokenization (t37's docsyms shape with the LEARNED table).
    "t40_bpe_train_apply" ->
      s"""$BpeTrainOracleChain,
         |segged AS (
         |  SELECT word, len(list_filter(string_split(seg, '|'), x -> x <> '')) AS n_syms
         |  FROM v$BpeTrainRounds
         |), wc AS (
         |  SELECT doc_id, word, COUNT(*) AS cnt FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
         |  ) WHERE regexp_matches(word, '^[a-z]+$$') GROUP BY doc_id, word
         |)
         |SELECT w.doc_id,
         |  CAST(SUM(w.cnt) AS BIGINT) AS n_words,
         |  CAST(SUM(length(w.word) * w.cnt) AS BIGINT) AS n_chars,
         |  CAST(SUM(s.n_syms * w.cnt) AS BIGINT) AS n_symbols,
         |  round(CAST(SUM(length(w.word) * w.cnt) AS DOUBLE) / SUM(s.n_syms * w.cnt), 6) AS compression
         |FROM wc w JOIN segged s ON w.word = s.word
         |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin,

    // Identical to t11's oracle BY DESIGN: the bloom pre-pass is a pure
    // pruning optimization (false positives re-checked by the exact semi
    // join), so the gate proves result-invariance of the optimized plan.
    "t31_bloom_contamination" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)-2), i -> array_to_string(t[i:i+3], ' ')))) AS sh
        |  FROM tok WHERE len(t) >= 4
        |), h AS (
        |  SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS h FROM sh
        |), bench AS (SELECT DISTINCT h FROM h WHERE doc_id % 7 = 0),
        |corpus AS (SELECT doc_id, h FROM h WHERE doc_id % 7 != 0),
        |sizes AS (SELECT doc_id, count(*) AS n_ngrams FROM corpus GROUP BY doc_id),
        |hits AS (
        |  SELECT doc_id, count(*) AS n_contaminated FROM corpus
        |  WHERE h IN (SELECT h FROM bench) GROUP BY doc_id
        |)
        |SELECT s.doc_id, n_ngrams, n_contaminated,
        |  round(CAST(n_contaminated AS DOUBLE) / n_ngrams, 6) AS contamination
        |FROM hits JOIN sizes s ON s.doc_id = hits.doc_id
        |ORDER BY s.doc_id""".stripMargin,

    // Log-free surprisal mirrored term-for-term (the t18 rule): exact
    // integer numerator, ONE correctly-rounded double division, floor —
    // bit-identical across engines; per-doc sums are INTEGER (order-
    // independent), the mean is exact integer micro-units (floor).
    "t34_bigram_surprisal" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS t,
        |    len(string_split(text, ' ')) AS dl
        |  FROM documents
        |), d2 AS (SELECT * FROM docs WHERE dl >= 2),
        |bigrams AS (
        |  SELECT doc_id, t[u.i] AS w1, t[u.i + 1] AS w2
        |  FROM d2, LATERAL (SELECT UNNEST(range(1, dl)) AS i) u
        |),
        |uni AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c1 FROM (
        |    SELECT UNNEST(t) AS w FROM d2
        |  ) GROUP BY w
        |),
        |vocab AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni),
        |bi AS (
        |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
        |  FROM bigrams GROUP BY w1, w2
        |),
        |scored AS (
        |  SELECT g.doc_id,
        |    CAST(floor(CAST(1000000 * (2 * u.c1 + vocab.v) AS DOUBLE)
        |         / CAST(2 * b.c12 + 1 AS DOUBLE)) AS BIGINT) AS s
        |  FROM bigrams g JOIN bi b USING (w1, w2)
        |  JOIN uni u ON u.w = g.w1, vocab
        |)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(s) AS BIGINT) AS sum_surprisal,
        |  CAST((SUM(s) * 1000000) // COUNT(*) AS BIGINT) AS mean_surprisal_micro
        |FROM scored GROUP BY doc_id
        |ORDER BY mean_surprisal_micro DESC, doc_id ASC LIMIT 25""".stripMargin,

    // Exact-integer TVD numerator, one double division at the end —
    // mirrored term-for-term.
    "t33_vocab_drift" ->
      """WITH toks AS (
        |  SELECT lang, (doc_id % 2 = 0) AS is_a,
        |    unnest(string_split(text, ' ')) AS tok
        |  FROM documents
        |), c AS (
        |  SELECT lang, tok,
        |    CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS nb
        |  FROM toks WHERE tok <> '' GROUP BY lang, tok
        |), t AS (
        |  SELECT lang, CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb
        |  FROM c GROUP BY lang
        |)
        |SELECT c.lang, MAX(t.ta) AS ta, MAX(t.tb) AS tb,
        |  round(CAST(SUM(abs(CAST(na AS DECIMAL(38,0)) * t.tb
        |      - CAST(nb AS DECIMAL(38,0)) * t.ta)) AS DOUBLE)
        |    / (2.0 * CAST(MAX(t.ta) AS DOUBLE) * CAST(MAX(t.tb) AS DOUBLE)), 6) AS tvd
        |FROM c JOIN t ON c.lang = t.lang
        |GROUP BY c.lang ORDER BY c.lang""".stripMargin,

    // Reuses the full t4 CTE chain (the `mh` CTE carries the signatures)
    // and appends the agreement count + error columns.
    "t32_minhash_estimate" ->
      s"""${neardupCtes(n = 3, nHashes = 8, bandSize = 2)},
         |est AS (
         |  SELECT j.doc_a, j.doc_b,
         |    (${(0 until 8).map(i => s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END").mkString(" + ")}) AS n_match,
         |    round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS true_jaccard
         |  FROM jac j JOIN mh a ON a.doc_id = j.doc_a JOIN mh b ON b.doc_id = j.doc_b
         |)
         |SELECT doc_a, doc_b, n_match,
         |  round(n_match / 8.0, 6) AS est_jaccard, true_jaccard,
         |  round(abs(round(n_match / 8.0, 6) - true_jaccard), 6) AS abs_err
         |FROM est ORDER BY doc_a, doc_b""".stripMargin
  )
}
