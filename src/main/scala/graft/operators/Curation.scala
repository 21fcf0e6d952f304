package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the composition a training-data pipeline
  * actually runs over a raw document corpus (builder-prompt M6, the
  * user-facing face of the catalog's x_* operators):
  *
  *   quality gate -> exact dedup -> near-dup clustering (keep one doc
  *   per cluster) -> context-window chunking
  *
  * Every stage is the same oracle-gated plan shape as its catalog twin
  * (`x_quality_score`/`x_gopher_repetition`, `x_exact_dedup`,
  * `x_simhash_neardup`/`x_dedup_clusters`, `x_chunk_windows`), operating
  * on an arbitrary documents frame instead of the fixed test table. All
  * stages are lazy DataFrames; nothing is collected.
  *
  * Scale shape: the quality gate and chunker are row-local (zero
  * shuffles); exact dedup is one hash-key shuffle with map-side
  * combine; near-dup pairing is the banded simhash join (never
  * all-pairs); clustering is the O(log n)-round connected-components
  * operator. Each stage strictly shrinks the corpus, so the expensive
  * stages see the fewest rows.
  */
object Curation {

  /** Normalized text: lower, trim, collapse whitespace — the shared
    * definition every text operator keys on (TextCatalog's oracle twins
    * embed the same regex on the DuckDB side). */
  val NormSql = "regexp_replace(lower(trim(text)), '\\\\s+', ' ')"

  /** Spread a small-but-about-to-explode table across the cluster with
    * an EXPLICIT partition count: a column-only repartition is an
    * AQE-coalescible shuffle, and a doc table is tiny BEFORE its
    * per-doc heavy compute (see TextCatalog's measured 59 s single-task
    * collapse at sf0.1). */
  def spread(df: DataFrame, key: String = "doc_id"): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(key))

  /** 63-bit SimHash per (doc_id, source): md5-nibble majority over the
    * doc's distinct tokens, computed by the native `simhash_agg`
    * TypedImperativeAggregate (map-side partial, no 63x explode). */
  def simhashTable(docs: DataFrame): DataFrame = {
    graft.Graft.install(docs.sparkSession)
    docs
      .withColumn("norm", expr(NormSql))
      .select(col("doc_id"), col("source"),
        explode(expr("array_distinct(split(norm, ' '))")).as("tok"))
      .withColumn("h", md5(col("tok")))
      .groupBy("doc_id", "source")
      .agg(expr("simhash_agg(h)").as("simhash"))
  }

  /** Banded SimHash near-dup candidate pairs (hamming <= 8) over an
    * arbitrary docs frame — the 9x7-bit pigeonhole join: two signatures
    * within hamming 8 differ in at most 8 of the 9 bands, so they MUST
    * agree on at least one; the banded join + exact `bit_count(a ^ b)`
    * post-filter is row-identical to all-pairs. First-matching-band
    * emission returns each qualifying pair exactly once with no dedup
    * shuffle. Pairs are blocked within `source` (the catalog contract;
    * cross-source dups are exact-dedup's job). */
  def simhashNearDupPairs(docs: DataFrame): DataFrame = {
    val sims = simhashTable(docs)
    val banded = sims.select(col("doc_id"), col("source"), col("simhash"),
      explode(expr("transform(sequence(0, 8),"
        + " i -> struct(i AS band, shiftright(simhash, i * 7) & 127 AS bits))")).as("b"))
      .select(col("doc_id"), col("source").as("src"), col("simhash"),
        col("b.band").as("band"), col("b.bits").as("bits"))
    // merge hint: an AQE broadcast of a self-join side would re-run the
    // whole simhash pipeline as a separate job (see SelfJoinMergeHint).
    val a = banded.select(col("doc_id").as("doc_a"), col("simhash").as("sim_a"),
      col("src"), col("band"), col("bits")).hint("merge")
    val b = banded.select(col("doc_id").as("doc_b"), col("simhash").as("sim_b"),
      col("src"), col("band"), col("bits")).hint("merge")
    a.join(b, Seq("src", "band", "bits"))
      .filter(col("doc_a") < col("doc_b") &&
        expr("bit_count(sim_a ^ sim_b)") <= 8 &&
        (col("band") === 0 ||
          expr("forall(sequence(0, band - 1)," +
            " i -> (shiftright(sim_a, i * 7) & 127) != (shiftright(sim_b, i * 7) & 127))")))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(sim_a ^ sim_b)").as("hamming"))
  }

  /** Quality gate: minimum token count, maximum duplicate-token fraction
    * (the Gopher repetition rule), minimum alphabetic fraction. Pure
    * row-local projection + filter — zero shuffles. */
  def qualityGate(docs: DataFrame, minTokens: Int = 10,
      maxDupTokenFrac: Double = 0.5, minAlphaFrac: Double = 0.5): DataFrame =
    docs
      .withColumn("__norm", expr(NormSql))
      .withColumn("__toks", expr("split(__norm, ' ')"))
      .withColumn("__n", expr("size(__toks)"))
      .filter(col("__n") >= minTokens &&
        (lit(1.0) - expr("size(array_distinct(__toks))") * 1.0 / col("__n"))
          <= maxDupTokenFrac &&
        (expr("length(regexp_replace(__norm, '[^a-z]', ''))") * 1.0
          / expr("greatest(length(__norm), 1)")) >= minAlphaFrac)
      .drop("__norm", "__toks", "__n")

  /** PII redaction patterns, applied in this order (email first so its
    * digits-and-dots tail is not half-eaten by the IP rule). Each is a
    * plain (RE2-compatible) regex -> replacement-token pair, so the
    * whole pass stays inside codegen'd `regexp_replace` — row-local,
    * zero shuffles, no UDF. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b" -> "<IP>",
    // no '.' in the phone class: dotted digit runs are IPs, and the two
    // patterns' per-document counts must not overlap
    "\\+?\\d[\\d()\\- ]{7,}\\d" -> "<PHONE>")

  /** Redact PII spans (emails, IPv4 addresses, phone-shaped digit runs)
    * from `text`, replacing each with a typed placeholder token, and
    * count what was hit per document — the curation stage training-data
    * pipelines run before anything leaves the raw zone. Detection is
    * deliberately pattern-based and conservative: placeholders keep the
    * token positions so downstream chunking/token stats stay aligned.
    *
    * Adds `n_pii` (total redacted spans) and rewrites `text` in place;
    * all other columns pass through untouched. */
  def redactPii(docs: DataFrame): DataFrame = {
    // Counts fold ALONGSIDE the replacements: each pattern is counted on
    // the text the previous patterns already redacted, so n_pii equals
    // the number of replacements actually made — a span matching two
    // patterns (a phone-shaped digit run inside an email local part)
    // counts once, with the pattern that consumed it.
    val (redacted, hits) = PiiPatterns.foldLeft((col("text"), lit(0))) {
      case ((c, n), (pat, token)) =>
        (regexp_replace(c, pat, token), n + regexp_count(c, lit(pat)))
    }
    docs
      .withColumn("n_pii", hits)
      .withColumn("text", redacted)
  }

  /** C4-style line-level boilerplate filter (the published web-corpus
    * heuristics that run per LINE before any per-document scoring):
    * keep only lines that (a) have at least `minWords` whitespace
    * words, (b) end in terminal punctuation, and (c) carry no
    * code/boilerplate markers ('{', '}', "lorem ipsum", "javascript");
    * then drop documents with fewer than `minLines` surviving lines.
    * `text` is rewritten to the kept lines ('\n'-joined, original
    * order) and per-doc `n_lines` / `n_lines_kept` counters are added;
    * all other columns pass through.
    *
    * Shape: row-local posexplode + per-line codegen predicates + ONE
    * doc_id-keyed shuffle to reassemble (the collect_list is bounded by
    * the doc's own line count) — linear in corpus size, same profile as
    * chunking. */
  def c4LineFilter(docs: DataFrame, minWords: Int = 5, minLines: Int = 2): DataFrame = {
    val others = docs.columns.filterNot(Set("doc_id", "text")).toSeq
    val judged = docs
      .select(col("doc_id") +: others.map(col) :+
        posexplode(split(col("text"), "\n")).as(Seq("__idx", "__line")): _*)
      .withColumn("__keep",
        expr(s"size(split(trim(__line), ' ')) >= $minWords") &&
          col("__line").rlike("[.!?]\\s*$") &&
          !col("__line").contains("{") && !col("__line").contains("}") &&
          !lower(col("__line")).contains("lorem ipsum") &&
          !lower(col("__line")).contains("javascript"))
    judged
      .groupBy(col("doc_id") +: others.map(col): _*)
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_lines_kept"),
        expr("""array_join(
            transform(
              array_sort(collect_list(CASE WHEN __keep THEN struct(__idx, __line) END)),
              s -> s.__line),
            '\n')""").as("text"))
      .filter(col("n_lines_kept") >= minLines)
  }

  /** Exact dedup on normalized content hash, keeping the minimum doc_id
    * per hash (A12 shape: one keyed shuffle, deterministic survivor). */
  def exactDedup(docs: DataFrame): DataFrame =
    docs
      .withColumn("__h", md5(expr(NormSql)))
      .withColumn("__rn",
        row_number().over(Window.partitionBy("__h").orderBy("doc_id")))
      .filter(col("__rn") === 1)
      .drop("__h", "__rn")

  /** Near-dup dedup: banded simhash pairs -> connected components ->
    * keep the canonical (min doc_id) document per cluster. */
  def nearDupDedup(docs: DataFrame): DataFrame =
    Dedup.keepCanonical(docs, simhashNearDupPairs(spread(docs)))

  /** Context-window chunking (x_chunk_windows parameterized, emitting
    * the chunk text for downstream tokenization instead of its hash).
    * Row-local fan-out of ~n/stride rows per doc. */
  def chunkWindows(docs: DataFrame, win: Int = 64, stride: Int = 48): DataFrame =
    docs
      .withColumn("__toks", expr(s"split($NormSql, ' ')"))
      .withColumn("__n", expr("size(__toks)"))
      .select(col("doc_id"), col("__n"), col("__toks"),
        posexplode(expr(
          s"transform(sequence(0, CAST(floor((__n - 1) / $stride) AS INT))," +
            s" i -> 1 + i * $stride)"))
          .as(Seq("chunk_idx", "start_tok")))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        least(lit(win), col("__n") - col("start_tok") + 1).as("n_chunk_tokens"),
        expr(s"array_join(slice(__toks, start_tok, $win), ' ')").as("chunk_text"))

  /** Disjoint `n`-token chunks of each doc's normalized text with
    * their md5 — the C4 sub-document dedup unit, shared by the
    * x_chunk_dedup catalog query, the streaming chunkDedupSink, and
    * batch [[chunkDedup]]. Row-local fan-out; one row per chunk. */
  def docChunks(docs: DataFrame, n: Int = 16): DataFrame = {
    require(n >= 1, s"chunk size must be >= 1, got $n")
    docs
      .withColumn("__toks", expr(s"split($NormSql, ' ')"))
      .withColumn("__n", size(col("__toks")))
      .withColumn("__ch", expr(
        s"""transform(sequence(0, (__n - 1) div $n),
             c -> struct(c AS chunk_no,
                         array_join(slice(__toks, c * $n + 1, $n), ' ') AS txt))"""))
      .select(col("doc_id"), explode(col("__ch")).as("__c"))
      .select(col("doc_id"), col("__c.chunk_no").as("chunk_no"),
        col("__c.txt").as("txt"), md5(col("__c.txt")).as("h"))
  }

  /** Cross-document chunk-level dedup, keep-first (the C4 recipe; the
    * batch face of the x_chunk_dedup catalog stats and the
    * chunkDedupSink stream): a chunk occurrence survives iff it is the
    * globally FIRST occurrence of its md5 (doc order, then position).
    * `text` is rewritten to the surviving chunks in position order
    * (possibly empty for fully-duplicate docs — callers filter if they
    * want drops); n_chunks / n_chunks_kept counters are added, all
    * other columns pass through. ONE shuffle: the keep-first window on
    * the uniformly-distributed chunk hash. */
  def chunkDedup(docs: DataFrame, n: Int = 16): DataFrame = {
    val w = Window.partitionBy("h")
      .orderBy(col("doc_id").asc, col("chunk_no").asc)
    val rebuilt = docChunks(docs, n)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks_kept"),
        expr("array_join(transform(" +
          "sort_array(collect_list(struct(chunk_no, txt))), p -> p.txt), ' ')")
          .as("__text"))
    val counts = docChunks(docs, n).groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"))
    docs.drop("text")
      .join(counts, Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .withColumn("text", coalesce(col("__text"), lit("")))
      .withColumn("n_chunks_kept", coalesce(col("n_chunks_kept"), lit(0L)))
      .drop("__text")
  }

  /** Distinct word n-gram shingles per document — the overlap unit the
    * decontamination literature keys on (n-gram collision with a held-out
    * eval set; published pipelines use n in 2..13 depending on the eval
    * suite). Row-local explode; the distinct is one keyed shuffle. */
  def tokenNGrams(docs: DataFrame, n: Int = 3): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    docs
      .withColumn("__toks", expr(s"split($NormSql, ' ')"))
      .filter(expr(s"size(__toks) >= $n"))
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(__toks) - ${n - 1}),
           i -> concat_ws(' ', slice(__toks, i, $n)))""")).as("sg"))
      .distinct()
  }

  /** Word-trigram shingles — [[tokenNGrams]] at the x_contamination
    * catalog default. */
  def tokenTrigrams(docs: DataFrame): DataFrame = tokenNGrams(docs, 3)

  /** Drop training documents that share at least `minShared` distinct
    * word `n`-grams with the eval corpus (train/eval decontamination —
    * the removal op behind the diagnostic `x_contamination` matrix).
    *
    * Scale shape: the eval side reduces to its DISTINCT shingle set —
    * eval corpora are orders of magnitude smaller than training corpora,
    * so AQE typically broadcasts it; the train side is an explode +
    * semi-style join + per-doc count, never doc x doc. */
  def decontaminate(train: DataFrame, eval: DataFrame, minShared: Int = 8,
      n: Int = 3): DataFrame = {
    val contaminated = tokenNGrams(train, n)
      .join(tokenNGrams(eval, n).select("sg").distinct(), Seq("sg"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    train.join(contaminated.select("doc_id"), Seq("doc_id"), "left_anti")
  }

  /** Build a Bloom filter over a shingle column `sg` entirely
    * relationally: each shingle sets k bit positions
    * (`pmod(xxhash64(sg, seed), mBits)` for seed in 0..k-1), positions
    * group into 64-bit words via `bit_or`, and the sparse word table
    * densifies into ONE row holding an `array<bigint>` of mBits/64
    * words. No driver collect, no custom aggregate — the probe side
    * broadcast-crossJoins the 1-row frame (mBits/8 bytes, e.g. 16 KiB
    * at 2^17 bits) and tests membership row-locally.
    *
    * This is the same strategy Spark's own runtime filtering
    * (InjectRuntimeFilter: BloomFilterAggregate -> scalar subquery ->
    * BloomFilterMightContain) applies to join pruning, restated in
    * public DataFrame operations so the filter composes with arbitrary
    * probe logic. */
  def shingleBloom(shingles: DataFrame, mBits: Int = 1 << 17, k: Int = 5): DataFrame = {
    require(mBits >= 64 && (mBits & (mBits - 1)) == 0,
      s"mBits must be a power of two >= 64, got $mBits")
    require(k >= 1, s"k must be >= 1, got $k")
    val words = mBits / 64
    shingles
      .select(explode(expr(
        s"transform(sequence(0, ${k - 1}), s -> pmod(xxhash64(sg, s), $mBits))"))
        .as("pos"))
      .groupBy(expr("CAST(pos div 64 AS INT)").as("w"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)))").as("word"))
      .agg(map_from_entries(collect_list(struct(col("w"), col("word")))).as("m"))
      .select(expr(
        s"transform(sequence(0, ${words - 1}), i -> coalesce(element_at(m, i), CAST(0 AS BIGINT)))")
        .as("bloom"))
  }

  /** [[decontaminate]] with a Bloom-filter prefilter on the train-side
    * shingle stream — row-identical output (every Bloom false positive
    * is removed by the exact confirm join), different scale shape.
    *
    * Why it matters at 100 TB: plain decontaminate joins the full
    * train shingle stream against the eval distinct-shingle set — fine
    * while that set broadcasts, a full shuffle of the (enormous) train
    * shingle stream once it doesn't. Here the eval set reduces to an
    * mBits-bit Bloom (fixed KBs..MBs regardless of eval size), the
    * probe is a row-local `forall` over k bit tests against the
    * broadcast word array — zero shuffle, inside codegen — and only
    * the surviving sliver (true matches + ~(1-e^-kn/m)^k false
    * positives) pays the exact join. */
  def decontaminateBloom(train: DataFrame, eval: DataFrame, minShared: Int = 8,
      n: Int = 3, mBits: Int = 1 << 17, k: Int = 5): DataFrame = {
    val evalSg = tokenNGrams(eval, n).select("sg").distinct()
    decontaminateWithBloom(train, evalSg, shingleBloom(evalSg, mBits, k),
      minShared, mBits, k, n)
  }

  /** [[decontaminateBloom]] probing a PRE-derived eval shingle set and
    * its Bloom word array — for callers that test MANY train batches
    * against ONE static eval corpus (the streaming curation sink):
    * derive `evalSg`/`bloom` once, materialize them, and reuse per
    * batch instead of re-scanning the eval corpus every trigger
    * (round-7 advice). `mBits`/`k` must match the values `bloom` was
    * built with. */
  def decontaminateWithBloom(train: DataFrame, evalSg: DataFrame,
      bloom: DataFrame, minShared: Int = 8, mBits: Int = 1 << 17, k: Int = 5,
      n: Int = 3): DataFrame = {
    val candidates = tokenNGrams(train, n)
      .crossJoin(broadcast(bloom))
      .filter(expr(
        s"""forall(transform(sequence(0, ${k - 1}), s -> pmod(xxhash64(sg, s), $mBits)),
           p -> (shiftright(element_at(bloom, CAST(p div 64 AS INT) + 1),
                            CAST(p % 64 AS INT)) & 1) = 1)"""))
      .drop("bloom")
    val contaminated = candidates
      .join(evalSg, Seq("sg"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    train.join(contaminated.select("doc_id"), Seq("doc_id"), "left_anti")
  }

  /** Deterministic source-weighted token-budget selection — "data
    * mixture" construction, the step that turns a curated corpus into a
    * training mix: each source with weight w gets a token budget
    * round(w * tokenBudget) (round, not floor: 0.3 * 2000 is
    * 599.999... in binary doubles and must mean 600), its documents
    * are ranked in the uniform
    * deterministic order (md5(doc_id), doc_id), and the maximal prefix
    * whose token sum fits the budget is selected. Sources absent from
    * `weights` (or with weight 0) are dropped.
    *
    * Scale shape: the naive form is one running-sum window per source —
    * a full per-source sort through a single partition chain, which dies
    * when one source is TBs. Here the hash prefix is exploited: the
    * first hex byte of the ranking hash splits each source into 256
    * sub-buckets whose ordering AGREES with the hash order, so a tiny
    * per-bucket token-total aggregate decides every bucket strictly
    * inside the budget in bulk, and only the single BOUNDARY bucket
    * per source (~1/256 of it) pays the per-document window. Identical
    * selection, two cheap shuffles + one narrow window. */
  def mixtureSelect(docs: DataFrame, weights: Map[String, Double],
      tokenBudget: Long): DataFrame = {
    require(tokenBudget >= 0, s"tokenBudget must be >= 0, got $tokenBudget")
    require(weights.values.forall(_ >= 0), "mixture weights must be >= 0")
    val wmap = map(weights.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    val base = docs
      .withColumn("__w", element_at(wmap, col("source")))
      .filter(col("__w").isNotNull && col("__w") > 0)
      .withColumn("__budget", round(col("__w") * tokenBudget, 0).cast("long"))
      .withColumn("__ntok", expr(s"size(split($NormSql, ' '))").cast("long"))
      .withColumn("__h", md5(col("doc_id").cast("string")))
      .withColumn("__b", expr("CAST(conv(substring(__h, 1, 2), 16, 10) AS INT)"))
    val wBucket = Window.partitionBy("source").orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val buckets = base.groupBy("source", "__b", "__budget")
      .agg(sum("__ntok").as("__bt"))
      .withColumn("__cumEnd", sum("__bt").over(wBucket))
      .withColumn("__cumStart", col("__cumEnd") - col("__bt"))
    val fullDocs = base.join(
      buckets.filter(col("__cumEnd") <= col("__budget")).select("source", "__b"),
      Seq("source", "__b"), "left_semi")
    val wDoc = Window.partitionBy("source", "__b").orderBy(col("__h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundaryDocs = base.join(
      buckets.filter(col("__cumStart") <= col("__budget") &&
          col("__budget") < col("__cumEnd"))
        .select(col("source"), col("__b"), col("__cumStart")),
      Seq("source", "__b"))
      .withColumn("__cum", col("__cumStart") + sum("__ntok").over(wDoc))
      .filter(col("__cum") <= col("__budget"))
      .drop("__cumStart", "__cum")
    // restore the caller's exact schema (join keys migrate to the front)
    fullDocs.unionByName(boundaryDocs)
      .select(docs.columns.map(col).toSeq: _*)
  }

  /** Deterministic training-shard assignment — the output-layout step
    * after chunking: every row gets a `shard` in [0, nShards) derived
    * from the md5 of its key columns (first 16 bits), so the assignment
    * is uniform, reproducible on any engine, and independent of
    * partitioning or row order. Row-local (zero shuffles); writers
    * follow with `.write.partitionBy("shard")` so each shard lands as
    * one directory — the layout a training data-loader streams.
    *
    * nShards is capped at 65536: the shard id comes from 16 hash bits,
    * and more shards than hash values would leave shards structurally
    * empty. */
  def shardAssign(df: DataFrame, nShards: Int, keyCols: Seq[String]): DataFrame = {
    require(nShards > 0 && nShards <= 65536,
      s"nShards must be in [1, 65536], got $nShards")
    require(keyCols.nonEmpty, "shardAssign needs at least one key column")
    val key = concat_ws(":", keyCols.map(c => col(c).cast("string")): _*)
    df.withColumn("shard",
      conv(substring(md5(key), 1, 4), 16, 10).cast("int") % nShards)
  }

  /** All four stages, each a lazy DataFrame over the previous one. */
  final case class CurationResult(quality: DataFrame, exactDeduped: DataFrame,
      curated: DataFrame, chunks: DataFrame)

  def curate(docs: DataFrame, minTokens: Int = 10, maxDupTokenFrac: Double = 0.5,
      minAlphaFrac: Double = 0.5, win: Int = 64, stride: Int = 48): CurationResult = {
    val q = qualityGate(docs, minTokens, maxDupTokenFrac, minAlphaFrac)
    val e = exactDedup(q)
    val c = nearDupDedup(e)
    CurationResult(q, e, c, chunkWindows(c, win, stride))
  }

  /** S17-style verification counts for a curation run: one row per
    * stage. Triggers one count job per stage (call it once at the end
    * of a run, like the reference's load verification).
    *
    * The two expensive prefixes are pinned for the duration of the
    * counts: `exactDeduped` feeds both its own count and the near-dup
    * stage, `curated` feeds both its count and chunking — without the
    * pins, five lazy counts re-run the banded near-dup join up to twice
    * more (hours at 100 TB). The pairing therefore executes exactly once
    * per stats call (asserted by scan count in CurationSpec); the pins
    * are dropped before returning. */
  def stats(spark: SparkSession, docs: DataFrame, r: CurationResult): DataFrame = {
    import spark.implicits._
    r.exactDeduped.persist()
    r.curated.persist()
    try Seq(
      ("input", docs.count()),
      ("after_quality_gate", r.quality.count()),
      ("after_exact_dedup", r.exactDeduped.count()),
      ("after_neardup_dedup", r.curated.count()),
      ("chunks", r.chunks.count())
    ).toDF("stage", "n_rows")
    finally {
      r.curated.unpersist()
      r.exactDeduped.unpersist()
    }
  }
}
