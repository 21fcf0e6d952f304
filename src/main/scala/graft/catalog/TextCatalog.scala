package graft.catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Lineage.CutOps
import graft.catalog.Q.t

/** Training-data-pipeline text operators over the `documents` table:
  * exact/near dedup, fingerprinting, language ID, quality scoring,
  * token statistics (builder-prompt M6 scope; SURVEY.md §7.2 M6).
  *
  * All operators are pure Column pipelines (no UDFs): shingling is
  * `sequence` + `transform`/`explode`, hashing is md5 (identical hex on
  * both engines), so every one of them carries a DuckDB oracle.
  */
object TextCatalog {

  /** Normalized text: lower, trim, collapse whitespace — shared by all
    * ops. The Spark side is the single definition in operators.Curation
    * (the curation pipeline must key on the identical normalization);
    * duckNorm is its oracle twin. */
  private val sparkNorm = graft.operators.Curation.NormSql
  private val duckNorm = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

  /** Shared oracle for the two decontamination-removal plans
    * (`x_decontaminate` and its Bloom-prefiltered twin
    * `x_decontaminate_bloom`): src0 is the held-out eval set, a train
    * doc drops at >= 8 shared distinct trigrams. */
  private def duckDecontaminate: String =
    s"""WITH sh AS (
          SELECT DISTINCT doc_id, source, sg FROM (
            SELECT doc_id, source,
              unnest(list_transform(range(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS sg
            FROM (SELECT doc_id, source, string_split($duckNorm, ' ') AS toks
                  FROM documents)
            WHERE len(toks) > 2)),
        ev AS (SELECT DISTINCT sg FROM sh WHERE source = 'src0'),
        dropped AS (
          SELECT doc_id FROM (
            SELECT doc_id, count(*) AS n
            FROM sh JOIN ev USING (sg) WHERE source != 'src0' GROUP BY 1)
          WHERE n >= 8)
        SELECT source, count(*) AS n_train,
          CAST(sum(CASE WHEN dropped.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped
        FROM (SELECT source, doc_id FROM documents WHERE source != 'src0') t
          LEFT JOIN dropped ON t.doc_id = dropped.doc_id
        GROUP BY source
        ORDER BY source"""

  /** Spread the documents table across the full cluster BEFORE the per-doc
    * heavy compute (shingling, hashing). The explicit partition count
    * matters: a column-only `repartition(col)` is an AQE-coalescible
    * shuffle, and the doc table is tiny BEFORE the ~300x shingle explode —
    * AQE sees a 3 MB shuffle, coalesces it to ONE partition, and the whole
    * operator runs on one core (a measured 59 s single task at sf0.1).
    * With the count pinned to defaultParallelism AQE keeps every slot
    * busy; combined with the merge-hinted self-joins below, x_minhash_lsh
    * drops to ~4 s warm at sf0.1 on local[32]. */
  private def spread(df: org.apache.spark.sql.DataFrame) =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col("doc_id"))

  /** 48-bit content hash of a doc_id — the deterministic "random number"
    * the split/sample queries key on: both engines rebuild the identical
    * BIGINT from the first 12 hex chars of md5(doc_id), so membership is
    * a pure function of identity (re-runs, retries, repartitioning and
    * late shards can never move a document). Spark has base-16 `conv`;
    * DuckDB rebuilds nibble by nibble (the a_kmv_distinct technique). */
  private val sparkDocH48 =
    "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10) AS BIGINT)"
  private val duckDocH48: String = {
    val nib = (i: Int) =>
      s"(strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
    (1 to 12).map(i => s"${nib(i)} * ${1L << (4 * (12 - i))}")
      .mkString("CAST(", " + ", " AS BIGINT)")
  }

  /** 63-bit SimHash per doc (md5-nibble majority over distinct tokens),
    * carried with `source` so near-dup pairing can bucket by it.
    *
    * 63 bits (not 32): wide enough that the 9-band pigeonhole pairing in
    * `x_simhash_neardup` gets 7-bit bands (128 buckets each) instead of
    * 2-bit ones — the band buckets stay small at scale. 63 = 9 * 7 also
    * keeps `pow(2, bitpos)` inside signed-BIGINT range (2^62 max). */
  private def simhashTable(s: org.apache.spark.sql.SparkSession, d: String) =
    // simhash_agg is a native TypedImperativeAggregate holding the 63
    // majority counters in its buffer — partial-aggregated map-side like
    // any sum (no 63x explode, no 63-column codegen unit); the spread()
    // repartition keeps the per-doc compute off a single scan task. The
    // DataFrame-level implementation lives in operators.Curation so the
    // end-to-end curation pipeline runs the identical plan.
    graft.operators.Curation.simhashTable(spread(t(s, d, "documents")))

  /** DuckDB twin of [[simhashTable]], shared by the simhash oracles and
    * the curation-funnel oracle (which runs it over a filtered subset). */
  private def duckSimhashCte(rel: String = "documents"): String =
    s"""toks AS (
         SELECT DISTINCT doc_id, source, tok FROM (
           SELECT doc_id, source, unnest(string_split(norm, ' ')) AS tok
           FROM (SELECT doc_id, source, $duckNorm AS norm FROM $rel))),
       bits AS (
         SELECT doc_id, source, CAST(bp AS INT) AS bitpos,
           CASE WHEN CAST(floor((strpos('0123456789abcdef',
                  substring(md5(tok), CAST(floor(bp / 4) AS INT) + 1, 1)) - 1)
                  / pow(2, bp % 4)) AS INT) % 2 = 1
                THEN 1 ELSE -1 END AS contrib
         FROM toks, UNNEST(range(0, 63)) AS u(bp)),
       sums AS (SELECT doc_id, source, bitpos, CAST(sum(contrib) AS BIGINT) AS s
                FROM bits GROUP BY 1, 2, 3),
       sims AS (
         SELECT doc_id, source,
           CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, bitpos) AS BIGINT) ELSE 0 END) AS BIGINT)
             AS simhash
         FROM sums GROUP BY 1, 2)"""

  /** Stop-shingle document-frequency cap for `x_ngram_jaccard` (measured
    * max df at sf0.1 is 16, so the cap is pure scale insurance there). */
  private val MaxShingleDf = 64

  /** LSH band-bucket size cap for `x_minhash_lsh`: buckets above this are
    * degenerate signatures (boilerplate-dominated docs) whose self-join is
    * quadratic; `x_minhash_bucket_stats` reports how many were dropped. */
  private val MaxBucket = 100

  /** DuckDB twin of the minhash signature + band table used by
    * `x_minhash_lsh` and `x_minhash_bucket_stats`: 16 functions = 4 seeded
    * md5s x 4 non-overlapping 8-hex slices; 4 bands of 4 concatenated rows. */
  private def duckMinhashBandsCte: String = {
    val mins = (for { seed <- 0 to 3; slice <- 0 to 3 } yield
      s"min(substring(md5('$seed:' || sh), ${slice * 8 + 1}, 8)) AS m${seed * 4 + slice}")
      .mkString(",\n                  ")
    val bandRows = (0 to 3).map(b =>
      s"SELECT doc_id, $b AS band, ${(0 to 3).map(i => s"m${4 * b + i}").mkString(" || ")} AS band_sig FROM mh")
      .mkString("\n                UNION ALL ")
    s"""sh AS (
                SELECT doc_id, substring(norm, CAST(i AS INT), 5) AS sh
                FROM (SELECT doc_id, $duckNorm AS norm FROM documents),
                     UNNEST(range(1, greatest(length(norm) - 4, 1) + 1)) AS t(i)),
              mh AS (
                SELECT doc_id,
                  $mins
                FROM sh GROUP BY doc_id),
              bands AS (
                $bandRows)"""
  }

  /** Shared Spark minhash pipeline (the x_minhash_* family): 16
    * minhash slots as 4 seeded md5s x 4 fixed-width 8-hex slices, and
    * the 4 banded signature rows per doc. The 4 seeded md5s are
    * materialized in a projection BEFORE the aggregate: aggregate
    * expressions get no common-subexpression elimination, so
    * min(substring(md5(..)..)) x16 would hash each shingle 16 times
    * instead of 4. */
  /** ONE distinct 5-gram shingle frame and ONE 16-slot signature table
    * per (session, dataset) — the GraphCatalog pin discipline
    * (r16): x_minhash_lsh, x_minhash_bucket_stats and x_minhash_error
    * each rebuilt the shingle explode + 4 md5s per shingle + 16 min
    * aggregates privately, and the error audit additionally re-derived
    * the shingle set for its exact-Jaccard side. At 100 TB the
    * signature table IS the persisted dedup artifact every downstream
    * pass reads. min over the DISTINCT shingle set equals min over the
    * multiset, so mh is bit-identical to the former non-distinct build.
    * Both frames, (distinct (doc_id, sh) 5-gram shingles, 16-slot
    * signature table), are pinned in the session registry
    * ([[Q.pinned]]), keyed by the `documents` files. */
  private def minhashBase(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
    Q.pinned(s, d, Seq("documents"), "minhash")(
        (p: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)) =>
          Seq(p._1, p._2)) {
      val docs = spread(t(s, d, "documents")).withColumn("norm", expr(sparkNorm))
      val shingles = docs
        .select(col("doc_id"), explode(expr("char_ngrams(norm, 5)")).as("sh"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val hashed = shingles
        .select(Seq(col("doc_id")) ++
          (0 to 3).map(seed => md5(concat(lit(s"$seed:"), col("sh"))).as(s"h$seed")): _*)
      val minhashes = for { seed <- 0 to 3; slice <- 0 to 3 } yield
        min(substring(col(s"h$seed"), slice * 8 + 1, 8)).as(s"m${seed * 4 + slice}")
      val mh = hashed.groupBy("doc_id").agg(minhashes.head, minhashes.tail: _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (shingles, mh)
    }

  private def minhashParts(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val mh = minhashBase(s, d)._2
    val bands = mh.select(col("doc_id"),
      explode(array((0 to 3).map(b => struct(lit(b).as("band"),
        concat((0 to 3).map(i => col(s"m${4 * b + i}")): _*).as("band_sig"))): _*))
        .as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.band_sig").as("band_sig"))
    (mh, bands)
  }

  private val enW = "'the','a','of','and','to','in','is'"
  private val deW = "'der','die','das','und','ist','nicht'"
  private val frW = "'le','la','les','et','est','dans'"
  private val esW = "'el','los','las','es','y','por'"

  /** Per-doc char-bigram LM scores (doc_id, n_bigrams, avg_logp@4dp) —
    * the shared pipeline of x_charlm_score and x_ccnet_buckets; see
    * x_charlm_score's comment for the two-pass shape and the ln-ulp
    * headroom argument. */
  private def charlmDocScores(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val docs = spread(t(s, d, "documents"))
      .withColumn("norm", expr(sparkNorm))
      .filter(expr("length(norm) >= 2"))
    val bg = docs.select(col("doc_id"),
      explode(expr("char_ngrams(norm, 2)")).as("bg"))
    val counts = bg.groupBy("bg").agg(count(lit(1)).as("cnt"))
      .cutLineage() // model reused by ctx/V/scoring — one derivation
    val ctx = counts.groupBy(expr("substring(bg, 1, 1)").as("cx"))
      .agg(sum("cnt").as("ctx_n"))
    // Vocabulary size folded INTO the plan as a broadcast 1-row
    // aggregate (round-5 verdict #6): the old .distinct().count() was
    // a driver round-trip between the count pass and the scoring
    // pass — same value, one extra job. Both derive from the KB-sized
    // model table, so this is plan hygiene, not a scale fix.
    val v = counts.agg(
      countDistinct(expr("substring(bg, 2, 1)")).as("v"))
    val model = counts.withColumn("cx", expr("substring(bg, 1, 1)"))
      .join(ctx, "cx")
      .crossJoin(broadcast(v))
      .select(col("bg"),
        log((col("cnt") + lit(1)) / (col("ctx_n") + col("v"))).as("logp"))
    bg.join(broadcast(model), "bg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg("logp"), 4).as("avg_logp"))
  }

  /** DuckDB twin of [[charlmDocScores]], ending at CTE `scored`. */
  private lazy val duckCharlmScored: String =
    s"""base AS MATERIALIZED (
                SELECT doc_id, $duckNorm AS norm FROM documents
                WHERE length($duckNorm) >= 2),
              bg AS MATERIALIZED (
                SELECT doc_id, substring(norm, CAST(i AS INT), 2) AS bg
                FROM base, UNNEST(range(1, length(norm))) AS t(i)),
              counts AS MATERIALIZED (
                SELECT bg, count(*) AS cnt FROM bg GROUP BY bg),
              ctx AS (SELECT substring(bg, 1, 1) AS cx, sum(cnt) AS ctx_n
                      FROM counts GROUP BY 1),
              vsize AS (SELECT count(DISTINCT substring(bg, 2, 1)) AS v FROM counts),
              model AS (SELECT counts.bg,
                  ln((counts.cnt + 1) / (ctx.ctx_n + (SELECT v FROM vsize)))
                    AS logp
                FROM counts JOIN ctx ON substring(counts.bg, 1, 1) = ctx.cx),
              scored AS MATERIALIZED (
                SELECT bg.doc_id, count(*) AS n_bigrams,
                  round(avg(model.logp), 4) AS avg_logp
                FROM bg JOIN model ON bg.bg = model.bg
                GROUP BY bg.doc_id)"""

  /** Fixed query terms for `x_bm25_topk` (all present in the synthetic
    * vocabulary at every SF). */
  private val Bm25Terms = Seq("spark", "query", "vector")

  /** One BM25 term's score as shared Spark-SQL/DuckDB expression TEXT:
    * identical text -> identical parse tree -> identical IEEE
    * exact-rounded double on both engines (see x_bm25_topk). */
  private def bm25Term(tf: String, df: String): String =
    s"((n - $df + 0.5) / ($df + 0.5)) * ($tf * (1.2 + 1)) / ($tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))"

  private val Bm25Score =
    s"${bm25Term("tf1", "df1")} + ${bm25Term("tf2", "df2")} + ${bm25Term("tf3", "df3")}"

  val all: Seq[Q] = Seq(

    Q("x_exact_dedup",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), md5(expr(sparkNorm)).as("h"))
        .groupBy("h")
        .agg(count(lit(1)).as("n_copies"), min("doc_id").as("canonical_doc"))
        .groupBy()
        .agg(count(lit(1)).as("n_distinct_docs"),
          sum(when(col("n_copies") > 1, 1).otherwise(0)).as("n_dup_groups"),
          sum(col("n_copies") - 1).as("n_redundant_docs")),
      Some(s"""SELECT count(*) AS n_distinct_docs,
              CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
              CAST(sum(n_copies - 1) AS BIGINT) AS n_redundant_docs
              FROM (SELECT md5($duckNorm) AS h, count(*) AS n_copies,
                    min(doc_id) AS canonical_doc FROM documents GROUP BY 1)""")),

    Q("x_token_stats",
      (s, d) => t(s, d, "documents")
        .withColumn("norm", expr(sparkNorm))
        .select(col("doc_id"),
          expr("size(split(norm, ' '))").as("n_tokens"),
          octet_length(col("text")).as("n_bytes"),
          // NB: inside expr() strings "1.0" parses as DECIMAL — use 1.0D
          round(expr("length(replace(norm, ' ', '')) * 1.0D / size(split(norm, ' '))"), 4)
            .as("avg_token_len"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, len(string_split(norm, ' ')) AS n_tokens,
              octet_length(encode(text)) AS n_bytes,
              round(length(replace(norm, ' ', '')) * 1.0 / len(string_split(norm, ' ')), 4)
                AS avg_token_len
              FROM (SELECT doc_id, text, $duckNorm AS norm FROM documents)
              ORDER BY doc_id""")),

    Q("x_token_bpe",
      // BPE-ish token counting (M6 text analysis): whitespace tokens vs a
      // subword-flavored regex split (letter runs | single digits |
      // punctuation runs) and their ratio — the fan-out factor a BPE
      // tokenizer budget estimate needs. Restricted to the ASCII
      // projection so Java-regex and RE2 count identical units (astral
      // codepoints are 2 UTF-16 units in Java, 1 rune in RE2).
      (s, d) => t(s, d, "documents")
        .withColumn("norm", expr(sparkNorm))
        .withColumn("a", expr("regexp_replace(norm, '[^\\\\x00-\\\\x7f]', '')"))
        .select(col("doc_id"),
          expr("size(split(norm, ' '))").as("n_ws_tokens"),
          expr("size(regexp_extract_all(a, '[a-z]+|[0-9]|[^a-z0-9 ]+', 0))")
            .as("n_bpe_tokens"),
          round(expr("size(regexp_extract_all(a, '[a-z]+|[0-9]|[^a-z0-9 ]+', 0)) * 1.0D"
            + " / size(split(norm, ' '))"), 4).as("bpe_per_ws"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              len(string_split(norm, ' ')) AS n_ws_tokens,
              len(regexp_extract_all(a, '[a-z]+|[0-9]|[^a-z0-9 ]+')) AS n_bpe_tokens,
              round(len(regexp_extract_all(a, '[a-z]+|[0-9]|[^a-z0-9 ]+')) * 1.0
                    / len(string_split(norm, ' ')), 4) AS bpe_per_ws
              FROM (SELECT doc_id, norm,
                      regexp_replace(norm, '[^\\x00-\\x7f]', '', 'g') AS a
                    FROM (SELECT doc_id, $duckNorm AS norm FROM documents))
              ORDER BY doc_id""")),

    Q("x_quality_score",
      (s, d) => t(s, d, "documents")
        .withColumn("norm", expr(sparkNorm))
        .withColumn("toks", expr("split(norm, ' ')"))
        .withColumn("n_tokens", expr("size(toks)"))
        .withColumn("n_stop", expr(s"size(filter(toks, t -> t IN ($enW)))"))
        .withColumn("n_alpha", expr("length(regexp_replace(norm, '[^a-z]', ''))"))
        .select(col("doc_id"),
          round(col("n_stop") * 1.0 / col("n_tokens"), 4).as("stopword_ratio"),
          round(col("n_alpha") * 1.0 / expr("length(norm)"), 4).as("alpha_ratio"),
          round(col("n_stop") * 1.0 / col("n_tokens") * 0.5
            + col("n_alpha") * 1.0 / expr("length(norm)") * 0.3
            + least(lit(1.0), col("n_tokens") / 100.0) * 0.2, 4).as("quality"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              round(n_stop * 1.0 / n_tokens, 4) AS stopword_ratio,
              round(n_alpha * 1.0 / n_chars, 4) AS alpha_ratio,
              round(n_stop * 1.0 / n_tokens * 0.5 + n_alpha * 1.0 / n_chars * 0.3
                    + least(1.0, n_tokens / 100.0) * 0.2, 4) AS quality
              FROM (SELECT doc_id,
                      len(list_filter(string_split(norm, ' '), t -> t IN ($enW))) AS n_stop,
                      len(string_split(norm, ' ')) AS n_tokens,
                      length(regexp_replace(norm, '[^a-z]', '', 'g')) AS n_alpha,
                      length(norm) AS n_chars
                    FROM (SELECT doc_id, $duckNorm AS norm FROM documents))
              ORDER BY doc_id""")),

    Q("x_langid",
      // scores = DISTINCT stopword hits via array_intersect (codegen-friendly,
      // no per-element lambda interpretation — the lambda version was 6x
      // slower at sf0.1)
      (s, d) => t(s, d, "documents")
        .withColumn("toks", expr(s"array_distinct(split($sparkNorm, ' '))"))
        .withColumn("s_en", expr(s"size(array_intersect(toks, array($enW)))"))
        .withColumn("s_de", expr(s"size(array_intersect(toks, array($deW)))"))
        .withColumn("s_fr", expr(s"size(array_intersect(toks, array($frW)))"))
        .withColumn("s_es", expr(s"size(array_intersect(toks, array($esW)))"))
        .withColumn("s_zh", expr("length(regexp_replace(text, '[\\\\x00-\\\\x7f]', ''))"))
        .withColumn("predicted_lang",
          expr("""CASE WHEN s_zh > 0 THEN 'zh'
                       WHEN s_de > s_en AND s_de >= s_fr AND s_de >= s_es THEN 'de'
                       WHEN s_fr > s_en AND s_fr >= s_es THEN 'fr'
                       WHEN s_es > s_en THEN 'es'
                       ELSE 'en' END"""))
        .groupBy("lang", "predicted_lang")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted_lang"),
      Some(s"""SELECT lang, predicted_lang, count(*) AS n FROM (
                SELECT lang,
                  CASE WHEN s_zh > 0 THEN 'zh'
                       WHEN s_de > s_en AND s_de >= s_fr AND s_de >= s_es THEN 'de'
                       WHEN s_fr > s_en AND s_fr >= s_es THEN 'fr'
                       WHEN s_es > s_en THEN 'es'
                       ELSE 'en' END AS predicted_lang
                FROM (SELECT lang,
                        len(list_intersect(toks, [$enW])) AS s_en,
                        len(list_intersect(toks, [$deW])) AS s_de,
                        len(list_intersect(toks, [$frW])) AS s_fr,
                        len(list_intersect(toks, [$esW])) AS s_es,
                        length(regexp_replace(text, '[\\x00-\\x7f]', '', 'g')) AS s_zh
                      FROM (SELECT lang, text,
                              list_distinct(string_split($duckNorm, ' ')) AS toks
                            FROM documents)))
              GROUP BY lang, predicted_lang ORDER BY lang, predicted_lang""")),

    Q("x_fingerprint",
      // char_ngrams is the native graft.functions.CharNGrams expression
      // (codegen'd fused loop); for documents >= 5 chars it matches the
      // declarative sequence+substring form the oracle uses.
      (s, d) => {
        t(s, d, "documents")
          .withColumn("norm", expr(sparkNorm))
          .select(col("doc_id"),
            expr("array_min(transform(char_ngrams(norm, 5), g -> md5(g)))")
              .as("fingerprint"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, min(md5(substring(norm, CAST(i AS INT), 5))) AS fingerprint
              FROM (SELECT doc_id, $duckNorm AS norm FROM documents),
                   UNNEST(range(1, greatest(length(norm) - 4, 1) + 1)) AS t(i)
              GROUP BY doc_id ORDER BY doc_id""")),

    Q("x_ngram_jaccard",
      // Word-trigram w-shingling (Broder-style), pairs bucketed by source:
      // the all-pairs join only meets inside a (source, shingle) bucket, so
      // join fan-out stays O(docs-per-shingle) — the shape that survives
      // scale-up, unlike char-4-grams whose near-universal sharing made the
      // join quadratic (137 s -> ~4 s at sf0.1).
      //
      // Stop-shingle guard: shingles whose document frequency exceeds
      // MaxShingleDf are template boilerplate; every one of them fans the
      // join out quadratically (df*(df-1)/2 pairs), so they are dropped
      // BEFORE the self-join — the classic stop-shingle filter. The df is
      // a window count over the join key itself, so the window's shuffle
      // is the same exchange the join needs. Per-doc cardinality is then
      // a window over kept shingles (replacing two join-backs against a
      // separate card aggregate — one fewer recomputation of the shingle
      // subtree). Jaccard is over KEPT shingles on both engines; at the
      // test SFs max df = 16 so results are identical to the unguarded op.
      (s, d) => {
        val docs = spread(t(s, d, "documents"))
          .withColumn("toks", expr(s"split($sparkNorm, ' ')"))
        val sh0 = docs
          .filter(expr("size(toks) >= 3")) // docs with <3 tokens have no trigrams
          .select(col("doc_id"), col("source"),
            explode(expr("transform(sequence(1, size(toks) - 2),"
              + " i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))")).as("sh"))
          .distinct()
        val sh = sh0
          .withColumn("df", count(lit(1)).over(Window.partitionBy("source", "sh")))
          .filter(col("df") <= MaxShingleDf)
          .withColumn("card", count(lit(1)).over(Window.partitionBy("doc_id")))
        // merge hint: see x_minhash_lsh — a broadcast of either side would
        // re-run the whole shingling pipeline as a separate job.
        val a = sh.select(col("doc_id").as("doc_a"), col("source").as("src"),
          col("sh"), col("card").as("card_a")).hint("merge")
        val b = sh.select(col("doc_id").as("doc_b"), col("source").as("src"),
          col("sh"), col("card").as("card_b")).hint("merge")
        a.join(b, Seq("src", "sh")).filter(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b")
          .agg(count(lit(1)).as("inter"),
            min("card_a").as("card_a"), min("card_b").as("card_b"))
          .select(col("doc_a"), col("doc_b"),
            round(col("inter") * 1.0 / (col("card_a") + col("card_b") - col("inter")), 4)
              .as("jaccard"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH toks AS (
                SELECT doc_id, source, string_split($duckNorm, ' ') AS toks
                FROM documents),
              sh0 AS (
                SELECT DISTINCT doc_id, source,
                  concat_ws(' ', toks[CAST(i AS INT)], toks[CAST(i AS INT) + 1],
                            toks[CAST(i AS INT) + 2]) AS sh
                FROM toks, UNNEST(range(1, len(toks) - 1)) AS t(i)
                WHERE len(toks) >= 3),
              sh AS (
                SELECT doc_id, source, sh,
                  count(*) OVER (PARTITION BY doc_id) AS card
                FROM (SELECT *, count(*) OVER (PARTITION BY source, sh) AS df FROM sh0)
                WHERE df <= $MaxShingleDf),
              inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter,
                  min(a.card) AS card_a, min(b.card) AS card_b
                FROM sh a JOIN sh b
                  ON a.sh = b.sh AND a.source = b.source AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
              SELECT doc_a, doc_b,
                round(inter * 1.0 / (card_a + card_b - inter), 4) AS jaccard
              FROM inter
              ORDER BY doc_a, doc_b""")),

    Q("x_minhash_lsh",
      // Broder MinHash + LSH banding, tuned so the op survives its own
      // bench (round-1 verdict: 295 s of a 372 s bench at 8 hashes / 4
      // bands of 2 — band collision prob s^2 made buckets huge):
      //  - 16 minhash functions, 4 bands of 4 rows -> collision prob s^4.
      //    Measured at sf0.1: max bucket 631 -> 66, join pairs 1.15M -> 20k.
      //  - the 16 functions are 4 seeded md5s x 4 non-overlapping 8-hex
      //    (32-bit) slices — 4x less hashing per shingle row; lexicographic
      //    min over fixed-width hex = numeric min, identical in DuckDB.
      //  - no shingle distinct(): min() is idempotent under duplicates, and
      //    the distinct was a full extra shuffle of the doc x 5-gram table.
      //  - band buckets above MaxBucket are dropped before the self-join
      //    (degenerate signatures go quadratic); the bucket-size window
      //    partitions by the join key, so its exchange is reused by the
      //    join. `x_minhash_bucket_stats` logs what is dropped.
      (s, d) => {
        val (_, bands) = minhashParts(s, d)
        val capped = bands
          .withColumn("bucket_n", count(lit(1)).over(Window.partitionBy("band", "band_sig")))
          .filter(col("bucket_n") <= MaxBucket)
        // merge hint: the self-join sides contain the whole shingle+md5
        // pipeline. Left to AQE, the "small" side becomes a broadcast
        // subtree — which is a SEPARATE job, so the expensive pipeline runs
        // twice with no exchange reuse (measured 160 s vs 4 s at sf0.1).
        // SMJ on (band, band_sig) reuses the window's exchange+sort for
        // BOTH sides — one heavy stage total — and is the only plan that
        // exists at 100 TB anyway, where no side fits in a broadcast.
        val l = capped.select(col("doc_id").as("doc_a"), col("band"), col("band_sig"))
          .hint("merge")
        val r = capped.select(col("doc_id").as("doc_b"), col("band"), col("band_sig"))
          .hint("merge")
        l.join(r, Seq("band", "band_sig")).filter(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b")
          .agg(count(lit(1)).as("n_shared_bands"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH $duckMinhashBandsCte,
              capped AS (
                SELECT doc_id, band, band_sig
                FROM (SELECT *, count(*) OVER (PARTITION BY band, band_sig) AS bucket_n
                      FROM bands)
                WHERE bucket_n <= $MaxBucket)
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
              FROM capped a JOIN capped b
                ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
              GROUP BY 1, 2 ORDER BY doc_a, doc_b""")),

    Q("x_minhash_bucket_stats",
      // The "log what was dropped" companion to x_minhash_lsh: band-bucket
      // population, the quadratic pressure (sum of per-bucket pair counts),
      // and exactly how many buckets/rows the MaxBucket cap removes.
      (s, d) => {
        val (_, bands) = minhashParts(s, d)
        bands.groupBy("band", "band_sig").agg(count(lit(1)).as("n"))
          .groupBy()
          .agg(count(lit(1)).as("n_buckets"),
            max("n").as("max_bucket"),
            sum(expr("n * (n - 1) div 2")).as("join_pairs"),
            sum(when(col("n") > MaxBucket, 1).otherwise(0)).as("dropped_buckets"),
            sum(when(col("n") > MaxBucket, col("n")).otherwise(0L)).as("dropped_rows"))
      },
      Some(s"""WITH $duckMinhashBandsCte,
              bs AS (SELECT band, band_sig, count(*) AS n FROM bands GROUP BY 1, 2)
              SELECT count(*) AS n_buckets,
                CAST(max(n) AS BIGINT) AS max_bucket,
                CAST(sum(n * (n - 1) // 2) AS BIGINT) AS join_pairs,
                CAST(sum(CASE WHEN n > $MaxBucket THEN 1 ELSE 0 END) AS BIGINT) AS dropped_buckets,
                CAST(sum(CASE WHEN n > $MaxBucket THEN n ELSE 0 END) AS BIGINT) AS dropped_rows
              FROM bs""")),

    Q("x_minhash_error",
      // The estimator AUDIT that closes the minhash loop (build:
      // x_minhash_lsh; pressure log: x_minhash_bucket_stats; this:
      // does the sketch TELL THE TRUTH?): for every LSH candidate pair,
      // the 16-slot signature agreement fraction (the minhash Jaccard
      // estimate) against the EXACT shingle-set Jaccard, with the
      // absolute estimator error per pair. At 100 TB the exact side of
      // this audit runs on the candidate pairs only (LSH already
      // reduced them to ~linear) — the audit costs one extra pass over
      // the pair list, not the corpus.
      (s, d) => {
        val (mh, bands) = minhashParts(s, d)
        val capped = bands
          .withColumn("bucket_n", count(lit(1)).over(Window.partitionBy("band", "band_sig")))
          .filter(col("bucket_n") <= MaxBucket)
        val cand = capped.select(col("doc_id").as("doc_a"), col("band"), col("band_sig"))
          .hint("merge")
          .join(capped.select(col("doc_id").as("doc_b"), col("band"), col("band_sig"))
            .hint("merge"), Seq("band", "band_sig"))
          .filter(col("doc_a") < col("doc_b"))
          .select("doc_a", "doc_b").distinct()
        val a = mh.toDF(mh.columns.map(c => if (c == "doc_id") "doc_a" else s"a_$c"): _*)
        val b = mh.toDF(mh.columns.map(c => if (c == "doc_id") "doc_b" else s"b_$c"): _*)
        val agree = cand.join(broadcast(a), Seq("doc_a")).join(broadcast(b), Seq("doc_b"))
          .withColumn("n_agree",
            (0 to 15).map(i => when(col(s"a_m$i") === col(s"b_m$i"), 1).otherwise(0))
              .reduce(_ + _))
          .select("doc_a", "doc_b", "n_agree")
        // the exact-Jaccard side reads the pinned distinct shingle frame
        // the signatures were built from (r16) — it used to re-derive it
        val shd = minhashBase(s, d)._1
        val sizes = shd.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val inter = cand
          .join(shd.select(col("doc_id").as("doc_a"), col("sh")), Seq("doc_a"))
          .join(shd.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("ni"))
        agree
          .join(inter, Seq("doc_a", "doc_b"), "left")
          .withColumn("ni", coalesce(col("ni"), lit(0L)))
          .join(broadcast(sizes.select(col("doc_id").as("doc_a"), col("n").as("na"))),
            Seq("doc_a"))
          .join(broadcast(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb"))),
            Seq("doc_b"))
          // All three audit columns are EXACT integers: est = k/16 is
          // the exact e4 decimal 625k; exact Jaccard i/u and the error
          // |k*u - 16*i| / (16*u) are integer-divided ppm. A round-4dp
          // double here once hit a decimal-half boundary at sf0.1
          // (raw error exactly 0.05625: Spark's BigDecimal HALF_UP saw
          // ...24999 while DuckDB's scaled multiply saw .5 — the
          // rounding class the parity rules warn about); integer ppm
          // has no boundary to disagree on.
          .select(col("doc_a"), col("doc_b"), col("n_agree"),
            (col("n_agree").cast("long") * lit(625L)).as("est_j_e4"),
            expr("1000000 * ni div (na + nb - ni)").as("exact_j_ppm"),
            expr("""abs(n_agree * (na + nb - ni) - 16 * ni) * 1000000
                    div (16 * (na + nb - ni))""").as("abs_err_ppm"))
          .orderBy("doc_a", "doc_b")
      },
      Some {
        val agreeSum = (0 to 15).map(i =>
          s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
        s"""WITH $duckMinhashBandsCte,
            capped AS (
              SELECT doc_id, band, band_sig
              FROM (SELECT *, count(*) OVER (PARTITION BY band, band_sig) AS bucket_n
                    FROM bands)
              WHERE bucket_n <= $MaxBucket),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM capped a JOIN capped b
                ON a.band = b.band AND a.band_sig = b.band_sig
                AND a.doc_id < b.doc_id),
            agree AS (
              SELECT doc_a, doc_b, $agreeSum AS n_agree
              FROM cand JOIN mh a ON a.doc_id = doc_a
                JOIN mh b ON b.doc_id = doc_b),
            shd AS (SELECT DISTINCT doc_id, sh FROM sh),
            sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
            inter AS (
              SELECT c.doc_a, c.doc_b, count(*) AS ni
              FROM cand c
                JOIN shd x ON x.doc_id = c.doc_a
                JOIN shd y ON y.doc_id = c.doc_b AND y.sh = x.sh
              GROUP BY 1, 2)
            SELECT agree.doc_a, agree.doc_b, n_agree,
              CAST(n_agree * 625 AS BIGINT) AS est_j_e4,
              CAST(1000000 * coalesce(ni, 0)
                // (na.n + nb.n - coalesce(ni, 0)) AS BIGINT) AS exact_j_ppm,
              CAST(abs(n_agree * (na.n + nb.n - coalesce(ni, 0))
                  - 16 * coalesce(ni, 0)) * 1000000
                // (16 * (na.n + nb.n - coalesce(ni, 0))) AS BIGINT)
                AS abs_err_ppm
            FROM agree
              LEFT JOIN inter ON inter.doc_a = agree.doc_a AND inter.doc_b = agree.doc_b
              JOIN sizes na ON na.doc_id = agree.doc_a
              JOIN sizes nb ON nb.doc_id = agree.doc_b
            ORDER BY agree.doc_a, agree.doc_b"""
      }),

    Q("x_simhash",
      (s, d) => simhashTable(s, d).select("doc_id", "simhash").orderBy("doc_id"),
      Some(s"WITH ${duckSimhashCte()} SELECT doc_id, simhash FROM sims ORDER BY doc_id")),

    Q("x_simhash_neardup",
      (s, d) => simhashNearDupPairs(s, d).orderBy("doc_a", "doc_b"),
      Some(s"""WITH ${duckSimhashCte()}
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                bit_count(xor(a.simhash, b.simhash)) AS hamming
              FROM sims a JOIN sims b
                ON a.source = b.source AND a.doc_id < b.doc_id
              WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
              ORDER BY doc_a, doc_b""")),

    Q("x_dedup_clusters",
      // Near-dup CLUSTERING: similarity is not transitive, so "keep one
      // doc per duplicate group" means one doc per connected component of
      // the near-dup pair graph. Components come from the distributed
      // min-label-propagation operator (graft.operators.Components —
      // O(log n) rounds via pointer jumping, every round two shuffles on
      // the node key); the pair graph is the banded simhash operator
      // above. Each doc gets its component's min doc_id as cluster_id;
      // is_canonical marks the one row per cluster a dedup would keep.
      // The DuckDB oracle computes the same fixpoint with a recursive
      // CTE — label sets propagate along edges until closure.
      (s, d) => {
        val pairs = simhashNearDupPairs(s, d)
        val comps = graft.operators.Components
          .connectedComponents(pairs, "doc_a", "doc_b")
        t(s, d, "documents").select(col("doc_id"))
          .join(comps.select(col("node").as("doc_id"), col("comp")), Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("cluster_id"))
          .withColumn("cluster_size",
            count(lit(1)).over(Window.partitionBy("cluster_id")))
          .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
          .orderBy("doc_id")
      },
      // Multi-statement TEMP-table fixpoint (round-10 verdict #4): the
      // recursive-CTE closure carried (node, label) SETS — O(K^2) rows
      // per K-node component, explosive on the sf1 corpus's dense
      // near-dup cliques. This version iterates plain min-label
      // propagation (state = ONE label per node, each round a
      // neighbor-min join) 12 unrolled rounds, then VERIFIES the
      // fixpoint with a 13th round: any still-moving label empties the
      // result via the guard predicate, so non-convergence fails the
      // row-count compare loudly instead of passing stale labels.
      // 12 rounds cover min-label eccentricity <= 12 — near-dup
      // components are quasi-cliques (diameter 2-3 in every corpus
      // measured); bump the unroll if the guard ever trips.
      Some {
        val propagate =
          """SELECT n.node, least(n.lbl, coalesce(m.ml, n.lbl)) AS lbl
             FROM xdc_lbl n LEFT JOIN (
               SELECT e.d AS node, min(p.lbl) AS ml
               FROM xdc_edges e JOIN xdc_lbl p ON p.node = e.s
               GROUP BY e.d) m ON m.node = n.node"""
        val rounds = (1 to 12).map { _ =>
          s"""CREATE OR REPLACE TEMP TABLE xdc_next AS $propagate;
              CREATE OR REPLACE TEMP TABLE xdc_lbl AS
              SELECT * FROM xdc_next;"""
        }.mkString("\n              ")
        s"""CREATE OR REPLACE TEMP TABLE xdc_sims AS
              WITH ${duckSimhashCte()} SELECT * FROM sims;
              CREATE OR REPLACE TEMP TABLE xdc_edges AS
              WITH pairs AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM xdc_sims a JOIN xdc_sims b
                  ON a.source = b.source AND a.doc_id < b.doc_id
                WHERE bit_count(xor(a.simhash, b.simhash)) <= 8)
              SELECT doc_a AS s, doc_b AS d FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs;
              CREATE OR REPLACE TEMP TABLE xdc_lbl AS
              SELECT DISTINCT s AS node, s AS lbl FROM xdc_edges;
              $rounds
              CREATE OR REPLACE TEMP TABLE xdc_chk AS $propagate;
              SELECT doc_id, cluster_id,
                count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
                doc_id = cluster_id AS is_canonical
              FROM (SELECT dd.doc_id,
                      coalesce(c.lbl, dd.doc_id) AS cluster_id
                    FROM documents dd
                      LEFT JOIN xdc_lbl c ON dd.doc_id = c.node)
              WHERE (SELECT count(*) FROM xdc_chk k JOIN xdc_lbl l
                     ON k.node = l.node AND k.lbl <> l.lbl) = 0
              ORDER BY doc_id"""
      }),

    Q("x_group_kfold",
      // Group-aware k-fold assignment with a LEAKAGE AUDIT — the
      // train/eval hygiene step after dedup (scikit-learn's GroupKFold
      // made corpus-scale): hashing documents into folds independently
      // leaks near-duplicates across the train/eval boundary, so the
      // fold key must be the near-dup CLUSTER id (connected components
      // of the banded simhash pair graph — the x_dedup_clusters
      // machinery), every member of a cluster landing in ONE fold by
      // construction. The row carries the audit that makes the hazard
      // measurable: leak_pairs_naive counts near-dup pairs split
      // across folds under the naive per-doc hash split (nonzero on
      // this corpus), leak_pairs_grouped the same count under the
      // cluster-keyed split — structurally zero, and the oracle
      // derives both counts from its own independent component
      // fixpoint. Scale shape: the pair graph and components are the
      // shipped bucketed/pointer-jumping operators; fold assignment is
      // one row-local hash on the cluster id.
      (s, d) => {
        val pairs = simhashNearDupPairs(s, d).cutLineage()
        val comps = graft.operators.Components
          .connectedComponents(pairs, "doc_a", "doc_b")
        val folds = t(s, d, "documents").select(col("doc_id"))
          .join(comps.select(col("node").as("doc_id"), col("comp")),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("comp"), col("doc_id")).as("cluster_id"))
          .withColumn("fold", expr(
            "CAST(conv(substring(md5(CAST(cluster_id AS STRING)), 1, 12), " +
              "16, 10) AS BIGINT) % 5"))
          .withColumn("fold_naive", expr(
            "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 12), " +
              "16, 10) AS BIGINT) % 5"))
          .cutLineage()
        def leak(c: String, name: String) = broadcast(pairs
          .join(folds.select(col("doc_id").as("doc_a"), col(c).as("fa")),
            Seq("doc_a"))
          .join(folds.select(col("doc_id").as("doc_b"), col(c).as("fb")),
            Seq("doc_b"))
          .agg(sum(when(col("fa") =!= col("fb"), 1L).otherwise(0L)).as(name)))
        folds.groupBy("fold")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct("cluster_id").as("n_clusters"))
          .crossJoin(leak("fold", "leak_pairs_grouped"))
          .crossJoin(leak("fold_naive", "leak_pairs_naive"))
          .select("fold", "n_docs", "n_clusters", "leak_pairs_grouped",
            "leak_pairs_naive")
          .orderBy("fold")
      },
      Some {
        val propagate =
          """SELECT n.node, least(n.lbl, coalesce(m.ml, n.lbl)) AS lbl
             FROM gkf_lbl n LEFT JOIN (
               SELECT e.d AS node, min(p.lbl) AS ml
               FROM gkf_edges e JOIN gkf_lbl p ON p.node = e.s
               GROUP BY e.d) m ON m.node = n.node"""
        val rounds = (1 to 12).map { _ =>
          s"""CREATE OR REPLACE TEMP TABLE gkf_next AS $propagate;
              CREATE OR REPLACE TEMP TABLE gkf_lbl AS
              SELECT * FROM gkf_next;"""
        }.mkString("\n              ")
        val nib12 = (c: String) => (1 to 12).map(i =>
          s"(strpos('0123456789abcdef', substring(md5(CAST($c AS VARCHAR)), $i, 1)) - 1) * ${1L << (4 * (12 - i))}")
          .mkString("CAST(", " + ", " AS BIGINT)")
        s"""CREATE OR REPLACE TEMP TABLE gkf_sims AS
              WITH ${duckSimhashCte()} SELECT * FROM sims;
              CREATE OR REPLACE TEMP TABLE gkf_pairs AS
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM gkf_sims a JOIN gkf_sims b
                ON a.source = b.source AND a.doc_id < b.doc_id
              WHERE bit_count(xor(a.simhash, b.simhash)) <= 8;
              CREATE OR REPLACE TEMP TABLE gkf_edges AS
              SELECT doc_a AS s, doc_b AS d FROM gkf_pairs
              UNION ALL SELECT doc_b, doc_a FROM gkf_pairs;
              CREATE OR REPLACE TEMP TABLE gkf_lbl AS
              SELECT DISTINCT s AS node, s AS lbl FROM gkf_edges;
              $rounds
              CREATE OR REPLACE TEMP TABLE gkf_chk AS $propagate;
              CREATE OR REPLACE TEMP TABLE gkf_folds AS
              SELECT doc_id, cluster_id,
                ${nib12("cluster_id")} % 5 AS fold,
                ${nib12("doc_id")} % 5 AS fold_naive
              FROM (SELECT dd.doc_id,
                      coalesce(c.lbl, dd.doc_id) AS cluster_id
                    FROM documents dd
                      LEFT JOIN gkf_lbl c ON dd.doc_id = c.node);
              SELECT fold, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
                (SELECT CAST(sum(CASE WHEN fa.fold <> fb.fold
                        THEN 1 ELSE 0 END) AS BIGINT)
                 FROM gkf_pairs p
                 JOIN gkf_folds fa ON fa.doc_id = p.doc_a
                 JOIN gkf_folds fb ON fb.doc_id = p.doc_b)
                  AS leak_pairs_grouped,
                (SELECT CAST(sum(CASE WHEN fa.fold_naive <> fb.fold_naive
                        THEN 1 ELSE 0 END) AS BIGINT)
                 FROM gkf_pairs p
                 JOIN gkf_folds fa ON fa.doc_id = p.doc_a
                 JOIN gkf_folds fb ON fb.doc_id = p.doc_b)
                  AS leak_pairs_naive
              FROM gkf_folds
              WHERE (SELECT count(*) FROM gkf_chk k JOIN gkf_lbl l
                     ON k.node = l.node AND k.lbl <> l.lbl) = 0
              GROUP BY fold
              ORDER BY fold"""
      }),

    Q("x_ppjoin",
      // Exact set-similarity join by PREFIX FILTERING (SSJoin /
      // PPJoin — Chaudhuri et al. 2006, Xiao et al. 2008): every
      // document pair with trigram Jaccard >= 0.6, found by joining
      // only each set's PREFIX — its |S| - ceil(0.6|S|) + 1 globally
      // rarest shingles (ascending document frequency, ties by
      // shingle): two sets that meet the threshold MUST share a
      // prefix token, so the join fans out on rare tokens only — the
      // deterministic-and-exact complement of the probabilistic
      // minhash/simhash family, and a THIRD blocking discipline next
      // to their banding and FastSS's deletion neighborhoods. The
      // threshold test is pure integers (8*|A∩B| >= 3*(|A|+|B|) <=>
      // jac >= 3/5 — no ppm rounding in the predicate; the published
      // jac_ppm is display only); the oracle generates candidates
      // from ALL shared shingles (trivially complete), so a green row
      // is a machine-checked proof of the prefix-filter theorem on
      // this corpus. Scale: prefix length shrinks as sets grow, df
      // ranking puts the rarest tokens in the prefix, and the exact
      // intersection join runs only over candidate docs.
      (s, d) => {
        val sh = spread(t(s, d, "documents"))
          .withColumn("toks", split(expr(sparkNorm), " "))
          .filter(size(col("toks")) >= 3)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(0, size(toks) - 3), " +
              "i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))"))
            .as("sh"))
          .distinct()
          .cutLineage()
        val dfq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
        val ranked = sh.join(dfq, Seq("sh"))
          .withColumn("card",
            count(lit(1)).over(Window.partitionBy("doc_id")))
          .withColumn("pos", row_number().over(
            Window.partitionBy("doc_id").orderBy(col("df"), col("sh"))))
          .withColumn("pref_len",
            expr("card - (3 * card + 4) div 5 + 1"))
        val pref = ranked.filter(col("pos") <= col("pref_len"))
          .select(col("doc_id"), col("sh"), col("card"))
        val cand = pref.select(col("doc_id").as("doc_a"), col("sh"),
            col("card").as("card_a"))
          .join(pref.select(col("doc_id").as("doc_b"), col("sh"),
            col("card").as("card_b")), Seq("sh"))
          .filter(col("doc_a") < col("doc_b") &&
            col("card_a") * 3 <= col("card_b") * 5 &&
            col("card_b") * 3 <= col("card_a") * 5)
          .select("doc_a", "doc_b", "card_a", "card_b")
          .distinct()
          .cutLineage()
        val inDocs = cand.select(col("doc_a").as("doc_id"))
          .union(cand.select(col("doc_b"))).distinct()
        val shC = sh.join(inDocs, Seq("doc_id"), "left_semi")
        val inter = shC.select(col("doc_id").as("doc_a"), col("sh"))
          .join(shC.select(col("doc_id").as("doc_b"), col("sh")), Seq("sh"))
          .filter(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
        cand.join(inter, Seq("doc_a", "doc_b"))
          .filter(col("i") * 8 >= (col("card_a") + col("card_b")) * 3)
          .withColumn("jac_ppm",
            expr("1000000 * i div (card_a + card_b - i)"))
          .select("doc_a", "doc_b", "card_a", "card_b", "i", "jac_ppm")
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH shd AS MATERIALIZED (
                 SELECT DISTINCT doc_id, sh FROM (
                   SELECT doc_id,
                     unnest(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i + 1] || ' '
                         || toks[i + 2])) AS sh
                   FROM (SELECT doc_id, string_split($duckNorm, ' ') AS toks
                         FROM documents)
                   WHERE len(toks) >= 3)),
               cards AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS card
                         FROM shd GROUP BY doc_id),
               inter AS (
                 -- the sh-keyed self-join IS the complete candidate set
                 -- AND the intersection count in one grouped pass (a
                 -- per-candidate re-probe of shd exploded to |cand| x
                 -- card rows and timed out on the sf1 corpus)
                 SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(count(*) AS BIGINT) AS i
                 FROM shd a JOIN shd b
                   ON a.sh = b.sh AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
               SELECT inter.doc_a, inter.doc_b,
                 ca.card AS card_a, cb.card AS card_b, i,
                 CAST(1000000 * i // (ca.card + cb.card - i) AS BIGINT)
                   AS jac_ppm
               FROM inter
                 JOIN cards ca ON ca.doc_id = inter.doc_a
                 JOIN cards cb ON cb.doc_id = inter.doc_b
               WHERE i * 8 >= (ca.card + cb.card) * 3
               ORDER BY inter.doc_a, inter.doc_b""")),

    Q("x_budgeted_coverage",
      // BUDGETED maximum coverage (operators/MaxCoverage.greedyBudgeted
      // — Khuller-Moss-Naor 1999): the data-buyer's form of coverage
      // selection — maximize covered trigrams per CHARACTER spent
      // (cost = n_chars, budget = 2500), picks by greedy cost-benefit
      // ratio (ppm-quantized once per candidate, ties to higher gain
      // then least doc) until the budget or the 12-pick cap runs out.
      // Contrast x_max_coverage's unit-cost greedy: the ratio greedy
      // prefers SHORT documents with fresh n-grams, and the two
      // trajectories diverge on this corpus. The remaining budget
      // rides a 1-row in-plan frame; the oracle replays the rounds
      // through temp tables with its own ORDER BY argmax.
      (s, d) => {
        val docs = spread(t(s, d, "documents"))
        val inc = docs
          .select(col("doc_id"), split(expr(sparkNorm), " ").as("toks"))
          .filter(size(col("toks")) > 2)
          .select(col("doc_id").as("item"), explode(expr(
            "transform(sequence(0, size(toks) - 3), " +
              "i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))"))
            .as("element"))
        val costs = docs.select(col("doc_id").as("item"),
          col("n_chars").as("cost"))
        graft.operators.MaxCoverage
          .greedyBudgeted(inc, costs, budget = 2500L, maxPicks = 12)
          .select(col("rank"), col("item").as("doc_id"), col("gain"),
            col("cost"), col("budget_left"), col("covered_total"))
          .orderBy("rank")
      },
      Some(duckBudgetedCoverageSql(budget = 2500L, rounds = 12)))

    ,
    Q("x_rendezvous_shards",
      // Rendezvous (highest-random-weight) sharding with the two
      // audits that justify it (Thaler-Ravishankar 1998; the placement
      // algebra behind consistent assignment in storage systems): each
      // document lands on the shard s maximizing md5(doc_id ':' s) —
      // pure integer argmax, no ring, no virtual nodes — and the row
      // proves the two properties a deployment buys it for: (a)
      // BALANCE — per-shard counts under 10 shards are near-uniform
      // (the hash argmax is exchangeable across shards); (b) MINIMAL
      // RESHUFFLE — growing 10 -> 11 shards moves EXACTLY the
      // documents whose new shard-10 weight beats their old winner
      // (~1/11 of the corpus, measured in-row as moved_ppm), while
      // every other assignment is provably unchanged (the old argmax
      // still wins among the original ten). Row-local hashes + one
      // rollup; nothing shuffles on resize except the moved documents
      // themselves — the property that makes 100 TB re-sharding a 9%
      // copy, not a 100% one.
      (s, d) => {
        def w(sh: Int) = expr(
          s"CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':$sh')), 1, 12), 16, 10) AS BIGINT)")
        val withW = t(s, d, "documents").select(
          (col("doc_id") +: (0 to 10).map(i => w(i).as(s"w$i"))): _*)
        // argmax over shards 0-9, the lowest shard winning a tie: the
        // greatest (weight, 9 - shard) pair, one linear expression (a
        // pairwise `when(a.wt >= b.wt, a).otherwise(b)` fold names its
        // left side twice, so its tree doubles per shard and its
        // generated code fails to compile). Nulls as that fold treats
        // them: a null weight of shards 1-9 ends on shard 9 (the first
        // branch); a null w0 loses (a null field orders first).
        val top = greatest((0 to 9).map(i =>
          struct(col(s"w$i").as("wt"), lit(9 - i).as("rk"))): _*)
        val best10 = when((1 to 9).map(i => col(s"w$i").isNull).reduce(_ || _),
          struct(col("w9").as("wt"), lit(9).as("sh")))
          .otherwise(struct(col("top.wt").as("wt"), (lit(9) - col("top.rk")).as("sh")))
        val assigned = withW
          .withColumn("top", top)
          .withColumn("b10", best10)
          .withColumn("shard10", col("b10.sh"))
          .withColumn("moved", (col("w10") > col("b10.wt")).cast("long"))
        val tot = broadcast(assigned.agg(count(lit(1)).as("__n"),
          sum("moved").as("__moved")))
        assigned.groupBy("shard10")
          .agg(count(lit(1)).as("n_docs"), sum("moved").as("n_moved_out"))
          .crossJoin(tot)
          .withColumn("moved_ppm_total", expr("1000000 * __moved div __n"))
          .select("shard10", "n_docs", "n_moved_out", "moved_ppm_total")
          .orderBy("shard10")
      },
      Some {
        val nib = (expr: String) => (1 to 12).map(i =>
          s"(strpos('0123456789abcdef', substring($expr, $i, 1)) - 1) * ${1L << (4 * (12 - i))}")
          .mkString("CAST(", " + ", " AS BIGINT)")
        val ws = (0 to 10).map(i =>
          s"${nib(s"md5(CAST(doc_id AS VARCHAR) || ':$i')")} AS w$i")
          .mkString(",\n                 ")
        val greatest10 = (0 to 9).map(i => s"w$i").mkString("greatest(", ", ", ")")
        val shardCase = "CASE " + (0 to 9).map(i =>
          s"WHEN w$i = m10 THEN $i").mkString(" ") + " END"
        s"""WITH ws AS (
              SELECT doc_id, $ws FROM documents),
            a AS (
              SELECT doc_id, $greatest10 AS m10, w10 FROM ws),
            asg AS (
              SELECT ws.doc_id, $shardCase AS shard10,
                CASE WHEN ws.w10 > a.m10 THEN 1 ELSE 0 END AS moved
              FROM ws JOIN a ON ws.doc_id = a.doc_id),
            tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(moved) AS BIGINT) AS mv FROM asg)
            SELECT shard10, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(moved) AS BIGINT) AS n_moved_out,
              CAST(1000000 * mv // n AS BIGINT) AS moved_ppm_total
            FROM asg, tot
            GROUP BY shard10, mv, n
            ORDER BY shard10"""
      }),

    Q("x_rolling_fingerprint",
      // Rabin–Karp rolling-hash fingerprint per document over the ASCII
      // projection: count / min / distinct-count of all 8-byte window
      // hashes. The Spark side is the native O(n) codegen expression
      // graft.functions.RollingHash (each hash derived from the previous
      // window's); the oracle recomputes every window O(n*k) with
      // list_reduce Horner steps — identical values, so the parity also
      // proves the rolling recurrence against the direct definition.
      (s, d) => {
        t(s, d, "documents")
          .withColumn("a", expr(s"regexp_replace($sparkNorm, '[^\\\\x00-\\\\x7f]', '')"))
          .withColumn("hs", expr("rolling_hash(a, 8)"))
          .select(col("doc_id"), size(col("hs")).as("n_windows"),
            expr("array_min(hs)").as("min_hash"),
            size(array_distinct(col("hs"))).as("n_distinct"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, len(hs) AS n_windows, list_min(hs) AS min_hash,
              len(list_distinct(hs)) AS n_distinct
              FROM (SELECT doc_id,
                      list_transform(range(1, length(a) - 6),
                        i -> list_reduce(
                               list_transform(range(CAST(i AS INT), CAST(i AS INT) + 8),
                                 j -> CAST(ascii(substring(a, CAST(j AS INT), 1)) AS BIGINT)),
                               (x, y) -> (x * 257 + y) % 1000000007)) AS hs
                    FROM (SELECT doc_id,
                            regexp_replace($duckNorm, '[^\\x00-\\x7f]', '', 'g') AS a
                          FROM documents))
              ORDER BY doc_id""")),

    Q("x_winnowing",
      // Winnowing (MOSS-style) fingerprint selection on top of the
      // rolling hashes: the minimum of every w=4 consecutive k=8-byte
      // window hashes, deduplicated — the guarantee is that any match of
      // length >= w+k-1 shares at least one selected fingerprint, at
      // ~1/w the fingerprint volume of x_rolling_fingerprint. (Simplified
      // from classic winnowing: we dedup globally per doc rather than
      // suppressing only consecutive repeats — a superset of the classic
      // selection with the same guarantee.)
      (s, d) => {
        t(s, d, "documents")
          .withColumn("a", expr(s"regexp_replace($sparkNorm, '[^\\\\x00-\\\\x7f]', '')"))
          .withColumn("hs", expr("rolling_hash(a, 8)"))
          // guard: sequence(1, 0) in Spark DESCENDS — never build it
          .withColumn("wins", expr(
            """CASE WHEN size(hs) >= 4
                 THEN transform(sequence(1, size(hs) - 3), i -> array_min(slice(hs, i, 4)))
                 ELSE CAST(array() AS array<bigint>) END"""))
          .select(col("doc_id"), size(col("wins")).as("n_windows"),
            size(array_distinct(col("wins"))).as("n_fingerprints"),
            expr("array_min(wins)").as("min_fp"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, len(wins) AS n_windows,
              len(list_distinct(wins)) AS n_fingerprints,
              list_min(wins) AS min_fp
              FROM (SELECT doc_id,
                      list_transform(range(1, greatest(len(hs) - 3, 0) + 1),
                        i -> list_min(hs[CAST(i AS INT):CAST(i AS INT) + 3])) AS wins
                    FROM (SELECT doc_id,
                            list_transform(range(1, length(a) - 6),
                              i -> list_reduce(
                                     list_transform(range(CAST(i AS INT), CAST(i AS INT) + 8),
                                       j -> CAST(ascii(substring(a, CAST(j AS INT), 1)) AS BIGINT)),
                                     (x, y) -> (x * 257 + y) % 1000000007)) AS hs
                          FROM (SELECT doc_id,
                                  regexp_replace($duckNorm, '[^\\x00-\\x7f]', '', 'g') AS a
                                FROM documents)))
              ORDER BY doc_id""")),

    Q("x_cdc_chunks",
      // Content-defined chunking (the FastCDC / rsync boundary rule):
      // cut wherever the 8-byte rolling hash satisfies h % 64 == 0, so
      // chunk boundaries follow CONTENT, not offsets — insert one byte
      // early in a document and every fixed-size chunk after it
      // changes, but CDC boundaries resynchronize within ~one chunk.
      // That stability is why dedup storage and incremental-sync
      // pipelines chunk this way before hashing. Cuts land at the end
      // (i+7) of each matching window, strictly inside the doc, plus
      // one final cut at the doc end; per-doc outputs are chunk count,
      // first cut, max chunk length, centi-chars mean chunk length,
      // and the md5 of the first chunk (which proves the extraction,
      // not just the arithmetic). Row-local array algebra over the
      // native O(n) RollingHash expression — zero shuffles at any
      // corpus size; the oracle recomputes every window hash O(n*k)
      // from the direct Horner definition.
      (s, d) => {
        t(s, d, "documents")
          .withColumn("a", expr(s"regexp_replace($sparkNorm, '[^\\\\x00-\\\\x7f]', '')"))
          .withColumn("hs", expr("rolling_hash(a, 8)"))
          .withColumn("la", length(col("a")).cast("long"))
          // guard: sequence(1, 0) in Spark DESCENDS — never build it
          .withColumn("cuts", expr(
            """concat(
                 CASE WHEN size(hs) >= 1
                   THEN filter(transform(sequence(1, size(hs)),
                          i -> IF(element_at(hs, i) % 64 = 0 AND i + 7 < la,
                                  CAST(i + 7 AS BIGINT), NULL)),
                        x -> x IS NOT NULL)
                   ELSE CAST(array() AS array<bigint>) END,
                 array(la))"""))
          .withColumn("lens", expr(
            """transform(sequence(1, size(cuts)),
                 k -> IF(k = 1, element_at(cuts, 1),
                         element_at(cuts, k) - element_at(cuts, k - 1)))"""))
          .select(col("doc_id"),
            size(col("cuts")).cast("long").as("n_chunks"),
            expr("element_at(cuts, 1)").as("first_cut"),
            expr("array_max(lens)").as("max_chunk"),
            expr("(100 * la) div size(cuts)").as("mean_chunk_c2"),
            md5(expr("substring(a, 1, CAST(element_at(cuts, 1) AS INT))"))
              .as("first_chunk_md5"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, CAST(len(cuts) AS BIGINT) AS n_chunks,
              cuts[1] AS first_cut,
              list_max(list_transform(range(1, len(cuts) + 1),
                k -> CASE WHEN k = 1 THEN cuts[1]
                     ELSE cuts[CAST(k AS INT)] - cuts[CAST(k AS INT) - 1] END))
                AS max_chunk,
              CAST((100 * la) // len(cuts) AS BIGINT) AS mean_chunk_c2,
              md5(substring(a, 1, CAST(cuts[1] AS INT))) AS first_chunk_md5
              FROM (SELECT doc_id, a, la,
                      list_append(
                        list_filter(
                          list_transform(range(1, len(hs) + 1),
                            i -> CASE WHEN hs[CAST(i AS INT)] % 64 = 0
                                      AND i + 7 < la
                                 THEN CAST(i + 7 AS BIGINT) END),
                          x -> x IS NOT NULL),
                        la) AS cuts
                    FROM (SELECT doc_id, a, CAST(length(a) AS BIGINT) AS la,
                            list_transform(range(1, length(a) - 6),
                              i -> list_reduce(
                                     list_transform(range(CAST(i AS INT), CAST(i AS INT) + 8),
                                       j -> CAST(ascii(substring(a, CAST(j AS INT), 1)) AS BIGINT)),
                                     (x, y) -> (x * 257 + y) % 1000000007)) AS hs
                          FROM (SELECT doc_id,
                                  regexp_replace($duckNorm, '[^\\x00-\\x7f]', '', 'g') AS a
                                FROM documents)))
              ORDER BY doc_id""")),

    Q("x_tfidf_topk",
      // Top-3 most characteristic tokens per document by an
      // integer-scaled tf-df score (tf * 1e6 div df). For a fixed corpus
      // the classic ln(N/df) idf is monotone in 1/df, so the linear form
      // ranks identically PER TF-VALUE while keeping the score exact
      // integer arithmetic — ln differs in the last ulp across libm
      // implementations, which an all-or-nothing hash compare cannot
      // tolerate. df is computed off the tf aggregate (one row per
      // (doc, token)), so no second pass over the corpus; the df side is
      // vocabulary-sized and broadcasts.
      (s, d) => {
        val tf = t(s, d, "documents")
          .select(col("doc_id"), explode(expr(s"split($sparkNorm, ' ')")).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("tok").asc)
        tf.join(df, Seq("tok"))
          .withColumn("score", expr("tf * 1000000L div df"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("doc_id"), col("rn"), col("tok"), col("tf"), col("df"), col("score"))
          .orderBy("doc_id", "rn")
      },
      Some(s"""WITH tf AS (
                SELECT doc_id, tok, count(*) AS tf FROM (
                  SELECT doc_id, unnest(string_split($duckNorm, ' ')) AS tok FROM documents)
                GROUP BY 1, 2),
              df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
              scored AS (
                SELECT tf.doc_id, tf.tok, tf.tf, df.df, tf.tf * 1000000 // df.df AS score
                FROM tf JOIN df ON tf.tok = df.tok)
              SELECT doc_id, rn, tok, tf, df, CAST(score AS BIGINT) AS score FROM (
                SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rn
                FROM scored)
              WHERE rn <= 3 ORDER BY doc_id, rn""")),

    Q("x_weighted_sample",
      // Deterministic WEIGHTED sampling without replacement
      // (Efraimidis-Spirakis A-ES, the published weighted-reservoir
      // algorithm): each doc draws an exponential key -ln(u)/w from a
      // content-stable uniform u (first 6 md5 hex of doc_id over 2^24 —
      // both engines derive the IDENTICAL double, so ln differs by at
      // most ~1 ulp) with weight w = n_chars; the k smallest keys ARE a
      // weighted sample without replacement. No rand(): reproducible
      // run-to-run and engine-to-engine. Keys ship as e8 micro-ints
      // (floor-exact, the g_pagerank convention; WeightedSampleSpec
      // AUDITS the residual floor-flip risk on the real fixtures — the
      // measured distance of every key*1e8+0.5 from an integer boundary
      // is >10^3 x the propagated 4-ulp ln() divergence bound at all
      // three SFs, and the 20th/21st keys differ by >= 30 micro-units,
      // so neither the emitted column nor top-20 membership can flip on
      // a 1-ulp libm difference). Scale shape: one
      // row-local key expression + TakeOrderedAndProject — at 100 TB
      // this draws a weighted sample with NO shuffle and no
      // materialized randomness; the complement of x_stratified_sample
      // (per-stratum keep-rate) for quality-weighted mixture draws.
      (s, d) => {
        val v = conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
          .cast("double")
        val u = (v + lit(0.5)) / lit(16777216.0)
        val key = -log(u) / col("n_chars")
        t(s, d, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"),
            floor(key * lit(1e8) + lit(0.5)).cast("long").as("es_key_e8"))
          .orderBy(col("es_key_e8"), col("doc_id"))
          .limit(20)
      },
      Some("""SELECT doc_id, source, n_chars,
             CAST(floor((-ln((
                 (strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 1048576.0
               + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1) * 65536.0
               + (strpos('0123456789abcdef', substring(h, 3, 1)) - 1) * 4096.0
               + (strpos('0123456789abcdef', substring(h, 4, 1)) - 1) * 256.0
               + (strpos('0123456789abcdef', substring(h, 5, 1)) - 1) * 16.0
               + (strpos('0123456789abcdef', substring(h, 6, 1)) - 1) * 1.0
               + 0.5) / 16777216.0) / n_chars) * 1e8 + 0.5) AS BIGINT) AS es_key_e8
             FROM documents, LATERAL (SELECT md5(CAST(doc_id AS VARCHAR)) AS h)
             ORDER BY es_key_e8, doc_id LIMIT 20""")),

    Q("x_stratified_sample",
      // Deterministic stratified sampling for corpus curation: keep-rate
      // per source stratum, membership decided by a content-stable hash
      // (first 8 md5 hex of source:doc_id vs a hex threshold — fixed-width
      // lowercase hex compares lexicographically = numerically, and md5 is
      // identical across engines). No rand(): the sample is reproducible
      // run-to-run and engine-to-engine, survives repartitioning, and
      // needs no shuffle at all before the final per-source rollup.
      (s, d) => t(s, d, "documents")
        .withColumn("rate_hex", expr(
          """CASE WHEN source = 'src0' THEN 'ffffffff'
                  WHEN CAST(substring(source, 4, 10) AS INT) % 2 = 0 THEN '7fffffff'
                  ELSE '3fffffff' END"""))
        .withColumn("keep",
          substring(md5(concat(col("source"), lit(":"), col("doc_id").cast("string"))), 1, 8)
            <= col("rate_hex"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
        .select(col("source"), col("n_total"), col("n_kept"),
          round(col("n_kept") * 1.0 / col("n_total"), 4).as("kept_ratio"))
        .orderBy("source"),
      Some("""SELECT source, count(*) AS n_total,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             round(sum(CASE WHEN keep THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS kept_ratio
             FROM (SELECT source,
                     substring(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 8) <=
                       CASE WHEN source = 'src0' THEN 'ffffffff'
                            WHEN CAST(substring(source, 4, 10) AS INT) % 2 = 0 THEN '7fffffff'
                            ELSE '3fffffff' END AS keep
                   FROM documents)
             GROUP BY source ORDER BY source""")),

    Q("x_quality_quantile",
      // Quantile-gated quality filter per stratum: keep the top half of
      // each source by the x_quality_score formula, cut at percent_rank
      // >= 0.5 (rank ties broken by doc_id so both engines rank
      // identically). The window and the rollup share the `source`
      // partitioning — one shuffle end-to-end.
      (s, d) => {
        val q = t(s, d, "documents")
          .withColumn("norm", expr(sparkNorm))
          .withColumn("toks", expr("split(norm, ' ')"))
          .withColumn("n_tokens", expr("size(toks)"))
          .withColumn("n_stop", expr(s"size(filter(toks, t -> t IN ($enW)))"))
          .withColumn("n_alpha", expr("length(regexp_replace(norm, '[^a-z]', ''))"))
          .withColumn("quality",
            round(col("n_stop") * 1.0 / col("n_tokens") * 0.5
              + col("n_alpha") * 1.0 / expr("length(norm)") * 0.3
              + least(lit(1.0), col("n_tokens") / 100.0) * 0.2, 4))
        q.withColumn("pr", percent_rank()
            .over(Window.partitionBy("source").orderBy(col("quality"), col("doc_id"))))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("pr") >= 0.5, 1L).otherwise(0L)).as("n_kept"),
            round(min(when(col("pr") >= 0.5, col("quality"))), 4).as("min_kept_quality"))
          .orderBy("source")
      },
      Some(s"""SELECT source, count(*) AS n_docs,
              CAST(sum(CASE WHEN pr >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              round(min(CASE WHEN pr >= 0.5 THEN quality END), 4) AS min_kept_quality
              FROM (SELECT source, quality,
                      percent_rank() OVER (PARTITION BY source ORDER BY quality, doc_id) AS pr
                    FROM (SELECT source, doc_id,
                            round(n_stop * 1.0 / n_tokens * 0.5 + n_alpha * 1.0 / n_chars * 0.3
                                  + least(1.0, n_tokens / 100.0) * 0.2, 4) AS quality
                          FROM (SELECT source, doc_id,
                                  len(list_filter(string_split(norm, ' '), t -> t IN ($enW))) AS n_stop,
                                  len(string_split(norm, ' ')) AS n_tokens,
                                  length(regexp_replace(norm, '[^a-z]', '', 'g')) AS n_alpha,
                                  length(norm) AS n_chars
                                FROM (SELECT source, doc_id, $duckNorm AS norm FROM documents))))
              GROUP BY source ORDER BY source""")),

    Q("x_gopher_repetition",
      // Within-document repetition signals (the Gopher-rules family every
      // published pretraining-data pipeline filters on): duplicate-token
      // fraction, duplicate-bigram fraction, and most-frequent-token
      // fraction. Everything is ROW-LOCAL — per-doc token arrays are
      // bounded (documents are KBs), so the max token frequency comes
      // from a run-length fold over the sorted array instead of an
      // explode + re-aggregate: the explode shape shuffles every token
      // in the corpus twice (measured 7.3 s vs 0.2 s at sf0.1), while
      // this plan has ZERO shuffles before the output sort and scales
      // with input splits alone. The naive DuckDB oracle proves the
      // fold's result row-identical.
      (s, d) => t(s, d, "documents")
        .withColumn("toks", expr(s"split($sparkNorm, ' ')"))
        .withColumn("n", expr("size(toks)"))
        .withColumn("grams", expr(
          """CASE WHEN size(toks) > 1 THEN
               transform(sequence(1, size(toks) - 1),
                 i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))
             ELSE CAST(array() AS array<string>) END"""))
        .withColumn("max_c", expr(
          // longest run in the sorted array = max frequency of any token
          """aggregate(sort_array(toks),
               struct(CAST('' AS STRING) AS prev, 0L AS run, 0L AS best),
               (acc, t) -> struct(t AS prev,
                 CASE WHEN t = acc.prev THEN acc.run + 1 ELSE 1 END AS run,
                 GREATEST(acc.best,
                   CASE WHEN t = acc.prev THEN acc.run + 1 ELSE 1 END) AS best),
               acc -> acc.best)"""))
        .select(col("doc_id"), col("n").as("n_tokens"),
          round(lit(1.0) - expr("size(array_distinct(toks))") * 1.0 / col("n"), 4)
            .as("dup_token_frac"),
          when(col("n") > 1,
            round(lit(1.0) - expr("size(array_distinct(grams))") * 1.0 / (col("n") - 1), 4))
            .otherwise(lit(0.0)).as("dup_bigram_frac"),
          round(col("max_c") * 1.0 / col("n"), 4).as("top_token_frac"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, len(toks) AS n_tokens,
                round(1.0 - len(list_distinct(toks)) * 1.0 / len(toks), 4) AS dup_token_frac,
                CASE WHEN len(toks) > 1 THEN
                  round(1.0 - len(list_distinct(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i + 1]))) * 1.0 / (len(toks) - 1), 4)
                ELSE 0.0 END AS dup_bigram_frac,
                round(list_max(list_transform(list_distinct(toks),
                    t -> len(list_filter(toks, x -> x = t)))) * 1.0 / len(toks), 4)
                  AS top_token_frac
              FROM (SELECT doc_id, string_split($duckNorm, ' ') AS toks FROM documents)
              ORDER BY doc_id"""))
  ,

    Q("x_chunk_windows",
      // Context-window chunking (the packing step an LLM training
      // pipeline runs before tokenized examples): 64-token windows with
      // stride 48 (16-token overlap), the ragged tail window kept.
      // Chunk starts are 1 + i*48 for i in 0..floor((n-1)/48), computed
      // per row and exploded — row-local fan-out of ~n/48 rows per doc,
      // no shuffle before the output sort, scales with input splits.
      // chunk_md5 hashes the actual chunk text, so the oracle proves
      // CONTENT equality of every window, not just counts. The windowing
      // itself IS the product operator (Curation.chunkWindows) — one
      // implementation, oracle-gated here, consumed by the Curate CLI
      // (round-4 verdict nit #5).
      (s, d) => graft.operators.Curation.chunkWindows(t(s, d, "documents"))
        .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
          col("n_chunk_tokens"), md5(col("chunk_text")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx"),
      Some(s"""SELECT doc_id, CAST(i AS INT) AS chunk_idx,
                CAST(1 + i * 48 AS INT) AS start_tok,
                CAST(least(64, n - (1 + i * 48) + 1) AS INT) AS n_chunk_tokens,
                md5(array_to_string(list_slice(toks, 1 + i * 48,
                  least(1 + i * 48 + 63, n)), ' ')) AS chunk_md5
              FROM (SELECT doc_id, toks, len(toks) AS n
                    FROM (SELECT doc_id, string_split($duckNorm, ' ') AS toks
                          FROM documents)),
                UNNEST(range(0, (n - 1) // 48 + 1)) AS u(i)
              ORDER BY doc_id, chunk_idx""")),

    Q("x_context_datastore",
      // kNN-LM datastore construction (Khandelwal et al.): every token
      // position contributes a (4-token context -> next token) entry;
      // the store's health metrics are what a retrieval-LM deployment
      // reads before committing memory to it — per hot context, how
      // often it occurs, how many DISTINCT continuations it has (low =
      // memorizable boilerplate, high = genuinely ambiguous), and the
      // dominant continuation. Row-local array fan-out, one (context,
      // next) aggregate, one context rollup with an integer argmax,
      // top-10 via TakeOrderedAndProject. Catalog-scale keys the
      // group on the context STRING; the 100 TB path keys shuffles on
      // xxhash64(context) like x_repeated_spans (8 bytes per entry in
      // flight, strings only for the surviving top rows).
      (s, d) => {
        // The context key travels as FOUR RAW TOKEN COLUMNS through
        // the heavy aggregate, not as a pre-built 4-gram string: the
        // obvious transform(i -> concat_ws(slice(...))) builds 15M
        // window strings through an interpreted higher-order lambda
        // (measured 18-22 s at sf0.1); posexplode + four codegen'd
        // element_at taps plus a (t1..t4, nxt) groupBy is the same
        // grouping (concat_ws(' ') is injective — normalized tokens
        // are space-free) at 3 s. The ctx string is only assembled on
        // the ~240k aggregated rows. Dominant-continuation argmax
        // folds into the second groupBy as min(struct(-count, next))
        // (largest count, tie -> smallest token): two partial-
        // aggregated shuffles + TakeOrderedAndProject, zero windows.
        val pairs = t(s, d, "documents")
          .withColumn("toks", expr(s"split($sparkNorm, ' ')"))
          .withColumn("n", size(col("toks")))
          .filter(col("n") >= 5)
          .select(col("toks"),
            posexplode(expr("slice(toks, 5, n - 4)")).as(Seq("j", "nxt")))
          .select((1 to 4).map(k =>
            expr(s"element_at(toks, j + $k)").as(s"t$k")) :+ col("nxt"): _*)
        val perNext = pairs.groupBy("t1", "t2", "t3", "t4", "nxt")
          .agg(count(lit(1)).as("c"))
          .withColumn("ctx",
            concat_ws(" ", col("t1"), col("t2"), col("t3"), col("t4")))
        perNext.groupBy("ctx")
          .agg(sum("c").as("n_occurrences"),
            count(lit(1)).as("n_distinct_next"),
            min(struct((-col("c")).as("negc"), col("nxt").as("nxt"))).as("m"))
          .select(col("ctx"), col("n_occurrences"),
            col("n_distinct_next").cast("long").as("n_distinct_next"),
            col("m.nxt").as("top_next"), (-col("m.negc")).as("top_next_count"))
          .orderBy(col("n_occurrences").desc, col("ctx").asc)
          .limit(10)
      },
      Some(s"""WITH pairs AS (
                SELECT array_to_string(toks[CAST(i - 4 AS INT):CAST(i - 1 AS INT)], ' ') AS ctx,
                  toks[CAST(i AS INT)] AS nxt
                FROM (SELECT toks, len(toks) AS n
                      FROM (SELECT string_split($duckNorm, ' ') AS toks
                            FROM documents)),
                  UNNEST(range(5, n + 1)) AS u(i)),
              pn AS (SELECT ctx, nxt, CAST(count(*) AS BIGINT) AS c
                     FROM pairs GROUP BY ctx, nxt)
              SELECT ctx, n_occurrences, n_distinct_next, top_next,
                top_next_count
              FROM (SELECT ctx,
                      CAST(sum(c) OVER (PARTITION BY ctx) AS BIGINT)
                        AS n_occurrences,
                      CAST(count(*) OVER (PARTITION BY ctx) AS BIGINT)
                        AS n_distinct_next,
                      nxt AS top_next, c AS top_next_count,
                      row_number() OVER (PARTITION BY ctx
                        ORDER BY c DESC, nxt) AS rn
                    FROM pn)
              WHERE rn = 1
              ORDER BY n_occurrences DESC, ctx LIMIT 10""")),

    Q("x_blocklist_filter",
      // Blocklist (badwords) filtering — the C4 safety stage: flag
      // documents containing any blocklisted token (word-boundary =
      // token-exact, not substring, so 'classic' never trips 'ass'),
      // report per-source flag rates and total hit counts. Row-local
      // array predicates + one small per-source aggregate; at 100 TB
      // a real blocklist (hundreds of terms) broadcasts and the
      // membership test stays inside codegen.
      (s, d) => {
        val bl = "array('spam', 'slow', 'dup')"
        t(s, d, "documents")
          .withColumn("toks", expr(s"split($sparkNorm, ' ')"))
          .withColumn("hits",
            expr(s"size(filter(toks, t -> array_contains($bl, t)))").cast("long"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("hits") > 0, 1L).otherwise(0L)).as("n_flagged"),
            sum("hits").as("n_hits"))
          .withColumn("flagged_ppm", expr("1000000 * n_flagged div n_docs"))
          .orderBy("source")
      },
      Some(s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_flagged,
              CAST(sum(hits) AS BIGINT) AS n_hits,
              CAST(1000000 * sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END)
                // count(*) AS BIGINT) AS flagged_ppm
              FROM (SELECT source,
                      CAST(len(list_filter(string_split($duckNorm, ' '),
                        t -> t IN ('spam', 'slow', 'dup'))) AS BIGINT) AS hits
                    FROM documents)
              GROUP BY source ORDER BY source""")),

    Q("x_epoch_shuffle",
      // Deterministic per-epoch corpus permutation — the data-loader
      // shuffle of a multi-epoch training run as a query: epoch e
      // orders the corpus by md5(e || ':' || doc_id), so every epoch
      // is a DIFFERENT but fully reproducible (and resumable — any
      // worker can recompute its slice) permutation, with no rand()
      // state to coordinate across a cluster. The first 10 docs of
      // epochs 0-2 are the verified sample; per-epoch ranking is one
      // WindowGroupLimit-optimized window over the (epoch x corpus)
      // frame. At 100 TB the same expression is the SORT KEY of the
      // shard writer — the permutation never materializes, shards
      // just write in key order.
      (s, d) => {
        val epochs = s.range(1)
          .select(explode(array(lit(0), lit(1), lit(2))).as("epoch"))
        val w = Window.partitionBy("epoch").orderBy(col("shuffle_key").asc)
        t(s, d, "documents").select(col("doc_id"))
          .crossJoin(broadcast(epochs))
          .withColumn("shuffle_key",
            md5(concat(col("epoch"), lit(":"), col("doc_id"))))
          .withColumn("pos", row_number().over(w))
          .filter(col("pos") <= 10)
          .select(col("epoch").cast("long").as("epoch"), col("pos"),
            col("doc_id"), col("shuffle_key"))
          .orderBy("epoch", "pos")
      },
      Some("""SELECT CAST(epoch AS BIGINT) AS epoch, pos, doc_id, shuffle_key
             FROM (SELECT epoch, doc_id, shuffle_key,
                     CAST(row_number() OVER (PARTITION BY epoch
                       ORDER BY shuffle_key) AS INT) AS pos
                   FROM (SELECT epoch, doc_id,
                           md5(epoch || ':' || doc_id) AS shuffle_key
                         FROM documents, (SELECT unnest([0, 1, 2]) AS epoch)))
             WHERE pos <= 10
             ORDER BY epoch, pos""")),

    Q("x_length_batching",
      // Length-grouped batching (the pad-waste optimization every
      // trainer applies): per SOURCE, docs are ranked into 4
      // equal-depth token-length buckets (ntile), and each bucket
      // reports the PADDING WASTE a batch padded to the bucket max
      // would pay — sum(max_len - len) — next to its token mass. The
      // comparison a data engineer actually reads: waste under
      // length-grouping vs padding the whole stratum to its max. All
      // integers; ntile ties broken by doc_id so both engines assign
      // identical buckets. Per-source windows keep w7's stratified
      // discipline (a GLOBAL ntile would funnel the corpus through
      // one partition — the anti-pattern this catalog documents at
      // w7_ntile_buckets); batch assembly is per-source/shard in
      // practice anyway, and the window + rollup share the source
      // partitioning: one shuffle end-to-end.
      (s, d) => {
        val docs = t(s, d, "documents")
          .withColumn("n_toks",
            expr(s"size(split($sparkNorm, ' '))").cast("long"))
        val w = Window.partitionBy("source")
          .orderBy(col("n_toks").asc, col("doc_id").asc)
        docs.withColumn("bucket", ntile(4).over(w))
          .groupBy("source", "bucket")
          .agg(count(lit(1)).as("n_docs"),
            min("n_toks").as("min_toks"), max("n_toks").as("max_toks"),
            sum("n_toks").as("sum_toks"))
          .withColumn("pad_waste",
            col("n_docs") * col("max_toks") - col("sum_toks"))
          .select(col("source"), col("bucket").cast("long").as("bucket"),
            col("n_docs"), col("min_toks"), col("max_toks"),
            col("sum_toks"), col("pad_waste"))
          .orderBy("source", "bucket")
      },
      Some("""SELECT source, CAST(bucket AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n_docs,
             min(n_toks) AS min_toks, max(n_toks) AS max_toks,
             CAST(sum(n_toks) AS BIGINT) AS sum_toks,
             CAST(count(*) * max(n_toks) - sum(n_toks) AS BIGINT) AS pad_waste
             FROM (SELECT source, doc_id, n_toks,
                     ntile(4) OVER (PARTITION BY source
                       ORDER BY n_toks, doc_id) AS bucket
                   FROM (SELECT source, doc_id,
                           CAST(len(string_split(""" + duckNorm + """, ' '))
                             AS BIGINT) AS n_toks
                         FROM documents))
             GROUP BY source, bucket ORDER BY source, bucket""")),

    Q("x_dedup_method_audit",
      // Cross-METHOD dedup audit — the completeness question a
      // curation review asks once several dedup families are green
      // individually: does the cheap sketch (simhash within hamming 8)
      // AGREE with the expensive ground truth (word-trigram Jaccard
      // >= 0.5)? One row: truth/predicted/agreement pair counts and
      // integer-ppm precision + recall of the sketch against the
      // trigram truth. The Jaccard threshold is the pure-integer test
      // 3*inter >= card_a + card_b (equivalent to j >= 0.5 — no float
      // division anywhere), and both pair sets reuse their green
      // catalog pipelines. At 100 TB this audit runs on a SAMPLE
      // stratum (one source), exactly as it does here — its cost is
      // the two pair derivations, never corpus-squared.
      (s, d) => {
        val pred = simhashNearDupPairs(s, d).select("doc_a", "doc_b")
        val docs = spread(t(s, d, "documents"))
          .withColumn("toks", expr(s"split($sparkNorm, ' ')"))
        val sh = docs
          .filter(expr("size(toks) >= 3"))
          .select(col("doc_id"), col("source"),
            explode(expr("transform(sequence(1, size(toks) - 2),"
              + " i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))")).as("sh"))
          .distinct()
          .withColumn("df", count(lit(1)).over(Window.partitionBy("source", "sh")))
          .filter(col("df") <= MaxShingleDf)
          .withColumn("card", count(lit(1)).over(Window.partitionBy("doc_id")))
        val a = sh.select(col("doc_id").as("doc_a"), col("source").as("src"),
          col("sh"), col("card").as("card_a")).hint("merge")
        val b = sh.select(col("doc_id").as("doc_b"), col("source").as("src"),
          col("sh"), col("card").as("card_b")).hint("merge")
        val truth = a.join(b, Seq("src", "sh"))
          .filter(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b")
          .agg(count(lit(1)).as("inter"),
            min("card_a").as("card_a"), min("card_b").as("card_b"))
          .filter(expr("3 * inter >= card_a + card_b"))
          .select("doc_a", "doc_b")
        val both = truth.join(pred, Seq("doc_a", "doc_b"))
        truth.agg(count(lit(1)).as("n_truth"))
          .crossJoin(pred.agg(count(lit(1)).as("n_pred")))
          .crossJoin(both.agg(count(lit(1)).as("n_both")))
          .select(col("n_truth"), col("n_pred"), col("n_both"),
            expr("CASE WHEN n_pred = 0 THEN 0L"
              + " ELSE 1000000 * n_both div n_pred END").as("precision_ppm"),
            expr("CASE WHEN n_truth = 0 THEN 0L"
              + " ELSE 1000000 * n_both div n_truth END").as("recall_ppm"))
      },
      // Multi-statement TEMP-table staging (round-10 verdict #4): the
      // single-statement form referenced sims / shk / truth / agreed
      // 2-5x each and DuckDB re-expanded the whole subtree per
      // reference (the sims derivation ALONE is ~55 s on the sf1
      // corpus) — staged, each stage is computed exactly once and the
      // whole oracle fits the sweep budget. Same algorithm, same
      // counts.
      Some(s"""CREATE OR REPLACE TEMP TABLE xda_sims AS
              WITH ${duckSimhashCte()} SELECT * FROM sims;
              CREATE OR REPLACE TEMP TABLE xda_pred AS
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM xda_sims a JOIN xda_sims b
                ON a.source = b.source AND a.doc_id < b.doc_id
              WHERE bit_count(xor(a.simhash, b.simhash)) <= 8;
              CREATE OR REPLACE TEMP TABLE xda_shk AS
              WITH tk AS (
                SELECT doc_id, source, string_split($duckNorm, ' ') AS ts
                FROM documents),
              sh0 AS (
                SELECT DISTINCT doc_id, source,
                  concat_ws(' ', ts[CAST(i AS INT)], ts[CAST(i AS INT) + 1],
                            ts[CAST(i AS INT) + 2]) AS sh
                FROM tk, UNNEST(range(1, len(ts) - 1)) AS t(i)
                WHERE len(ts) >= 3)
              SELECT doc_id, source, sh,
                count(*) OVER (PARTITION BY doc_id) AS card
              FROM (SELECT *, count(*) OVER (PARTITION BY source, sh) AS df
                    FROM sh0)
              WHERE df <= $MaxShingleDf;
              CREATE OR REPLACE TEMP TABLE xda_truth AS
              SELECT doc_a, doc_b FROM (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  count(*) AS inter, min(a.card) AS card_a,
                  min(b.card) AS card_b
                FROM xda_shk a JOIN xda_shk b
                  ON a.sh = b.sh AND a.source = b.source
                  AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
              WHERE 3 * inter >= card_a + card_b;
              CREATE OR REPLACE TEMP TABLE xda_agreed AS
              SELECT t.doc_a FROM xda_truth t
              JOIN xda_pred p ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b;
              SELECT
                (SELECT CAST(count(*) AS BIGINT) FROM xda_truth) AS n_truth,
                (SELECT CAST(count(*) AS BIGINT) FROM xda_pred) AS n_pred,
                (SELECT CAST(count(*) AS BIGINT) FROM xda_agreed) AS n_both,
                CASE WHEN (SELECT count(*) FROM xda_pred) = 0 THEN 0
                  ELSE CAST(1000000 * (SELECT count(*) FROM xda_agreed)
                    // (SELECT count(*) FROM xda_pred) AS BIGINT) END
                  AS precision_ppm,
                CASE WHEN (SELECT count(*) FROM xda_truth) = 0 THEN 0
                  ELSE CAST(1000000 * (SELECT count(*) FROM xda_agreed)
                    // (SELECT count(*) FROM xda_truth) AS BIGINT) END
                  AS recall_ppm""")),

    Q("x_url_canonicalize",
      // URL canonicalization — the dedup key derivation every web
      // corpus runs before URL-level dedup (CommonCrawl/C4 keep one
      // page per canonical URL): lowercase the scheme and host
      // (case-insensitive per RFC 3986) but NOT the path, drop the
      // fragment, strip utm_* tracking parameters, and re-join the
      // surviving query. Each doc synthesizes a deliberately MESSY url
      // (upper-cased scheme/host, two utm_ params interleaved with
      // real ones, a fragment) and the Spark side recovers the clean
      // form by piece-wise regex parsing; the oracle states the
      // expected canonical string ARITHMETICALLY from the same doc
      // columns (the mm_decode_meta construct->parse->expect pattern),
      // so any wrong capture group or over-eager strip breaks the
      // hash. Row-local, zero shuffles.
      (s, d) => {
        val u0 = concat(lit("HTTPS://"), upper(col("source")),
          lit(".Example.COM/"), col("lang"), lit("/doc/"), col("doc_id"),
          lit("?utm_source=news&id="), col("n_chars"),
          lit("&utm_campaign=x&ref="), col("doc_id") % 7,
          lit("#sec"), col("n_chars") % 5)
        t(s, d, "documents")
          .withColumn("u0", u0)
          .withColumn("scheme",
            lower(regexp_extract(col("u0"), "^([A-Za-z]+)://", 1)))
          .withColumn("host",
            lower(regexp_extract(col("u0"), "^[A-Za-z]+://([^/?#]+)", 1)))
          .withColumn("path",
            regexp_extract(col("u0"), "^[A-Za-z]+://[^/?#]+([^?#]*)", 1))
          .withColumn("q", regexp_extract(col("u0"), "\\?([^#]*)", 1))
          .withColumn("qc",
            regexp_replace(regexp_replace(col("q"),
              "utm_[a-z]+=[^&]*&", ""), "&?utm_[a-z]+=[^&]*$", ""))
          .withColumn("canon_url",
            concat(col("scheme"), lit("://"), col("host"), col("path"),
              when(col("qc") =!= "", concat(lit("?"), col("qc")))
                .otherwise(lit(""))))
          .select(col("doc_id"), col("host"), col("canon_url"),
            md5(col("canon_url")).as("url_md5"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             source || '.example.com' AS host,
             'https://' || source || '.example.com/' || lang || '/doc/'
               || doc_id || '?id=' || n_chars || '&ref=' || (doc_id % 7)
               AS canon_url,
             md5('https://' || source || '.example.com/' || lang || '/doc/'
               || doc_id || '?id=' || n_chars || '&ref=' || (doc_id % 7))
               AS url_md5
             FROM documents ORDER BY doc_id""")),

    Q("x_bpe_train",
      // The BPE tokenizer-TRAINING inner loop (Sennrich et al.), two
      // merges unrolled — where x_token_bpe only counts with a
      // BPE-flavored regex, this query LEARNS merges from the corpus:
      // build the word-frequency table, count adjacent symbol pairs
      // weighted by word frequency, merge the most frequent pair
      // corpus-wide, recount, merge again. The parity trick that keeps
      // both engines bit-identical: a word's symbol sequence is its
      // chars joined by chr(31), so "apply merge (a,b)" is the plain
      // string replace of a||US||b with a||b — and literal replace() is
      // leftmost non-overlapping in BOTH engines, which IS the BPE
      // greedy merge rule. Ties break lexicographically. Scale shape:
      // pair counting is a map-side-combinable groupBy over the
      // VOCABULARY (not the corpus — the word-frequency rollup shrank
      // it first, the same reason fastBPE trains on counted vocabs);
      // each round's argmax is a 1-row TakeOrdered broadcast-crossed
      // into the merge projection, no driver fetch.
      (s, d) => {
        val us = "chr(31)"
        val words = t(s, d, "documents")
          .withColumn("a", expr(s"regexp_replace($sparkNorm, '[^\\\\x00-\\\\x7f]', '')"))
          .select(explode(expr("regexp_extract_all(a, '[a-z]+', 0)")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("freq"))
          .withColumn("s", expr(s"array_join(regexp_extract_all(w, '.', 0), $us)"))
          .cutLineage() // both rounds' pair counts re-read this
        def pairCounts(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = df
          .withColumn("sy", expr(s"split(s, $us)"))
          .withColumn("pr", expr(
            """CASE WHEN size(sy) >= 2
                 THEN transform(sequence(1, size(sy) - 1),
                        i -> struct(element_at(sy, i) AS a,
                                    element_at(sy, i + 1) AS b))
                 ELSE CAST(array() AS array<struct<a:string,b:string>>) END"""))
          .select(col("freq"), explode(col("pr")).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum("freq").as("cnt"))
        def best(pc: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
          pc.orderBy(col("cnt").desc, col("a").asc, col("b").asc).limit(1)
        def applyMerge(df: org.apache.spark.sql.DataFrame, m: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = df
          .crossJoin(broadcast(m.select(col("a").as("__ma"), col("b").as("__mb"))))
          .withColumn("s", expr(
            s"replace(s, __ma || $us || __mb, __ma || __mb)"))
          .drop("__ma", "__mb")
        def stats(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = df
          .agg(sum(expr(s"freq * size(split(s, $us))")).as("corpus_symbols_after"))
        val m1 = best(pairCounts(words))
        val sep1 = applyMerge(words, m1).cutLineage()
        val m2 = best(pairCounts(sep1))
        val sep2 = applyMerge(sep1, m2)
        def row(no: Int, m: org.apache.spark.sql.DataFrame, after: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = m
          .crossJoin(broadcast(after))
          .select(lit(no.toLong).as("merge_no"), col("a").as("merge_a"),
            col("b").as("merge_b"), col("cnt").as("pair_count"),
            col("corpus_symbols_after"))
        row(1, m1, stats(sep1)).unionByName(row(2, m2, stats(sep2)))
          .orderBy("merge_no")
      },
      Some(s"""WITH toks AS (
                SELECT unnest(regexp_extract_all(a, '[a-z]+')) AS w
                FROM (SELECT regexp_replace($duckNorm, '[^\\x00-\\x7f]', '', 'g') AS a
                      FROM documents)),
              w0 AS MATERIALIZED (
                SELECT w, count(*) AS freq,
                  array_to_string(regexp_extract_all(w, '.'), chr(31)) AS s
                FROM toks GROUP BY w),
              p1 AS (
                SELECT sy[CAST(i AS INT)] AS a, sy[CAST(i AS INT) + 1] AS b,
                  CAST(sum(freq) AS BIGINT) AS cnt
                FROM (SELECT freq, string_split(s, chr(31)) AS sy FROM w0),
                  UNNEST(range(1, len(sy))) AS u(i)
                GROUP BY 1, 2),
              m1 AS MATERIALIZED (
                SELECT a, b, cnt FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
              sep1 AS MATERIALIZED (
                SELECT freq, replace(s, (SELECT a || chr(31) || b FROM m1),
                  (SELECT a || b FROM m1)) AS s
                FROM w0),
              p2 AS (
                SELECT sy[CAST(i AS INT)] AS a, sy[CAST(i AS INT) + 1] AS b,
                  CAST(sum(freq) AS BIGINT) AS cnt
                FROM (SELECT freq, string_split(s, chr(31)) AS sy FROM sep1),
                  UNNEST(range(1, len(sy))) AS u(i)
                GROUP BY 1, 2),
              m2 AS MATERIALIZED (
                SELECT a, b, cnt FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
              sep2 AS (
                SELECT freq, replace(s, (SELECT a || chr(31) || b FROM m2),
                  (SELECT a || b FROM m2)) AS s
                FROM sep1)
              SELECT CAST(1 AS BIGINT) AS merge_no, a AS merge_a, b AS merge_b,
                cnt AS pair_count,
                (SELECT CAST(sum(freq * len(string_split(s, chr(31)))) AS BIGINT)
                 FROM sep1) AS corpus_symbols_after
              FROM m1
              UNION ALL
              SELECT CAST(2 AS BIGINT), a, b, cnt,
                (SELECT CAST(sum(freq * len(string_split(s, chr(31)))) AS BIGINT)
                 FROM sep2)
              FROM m2
              ORDER BY merge_no""")),

    Q("x_bpe_encode",
      // Tokenizer-exact BPE ENCODE (round-10 verdict #8's ranked
      // next-tier list): where x_bpe_train LEARNS merges, this query
      // runs the other half of the tokenizer contract — apply the
      // learned merge list to every document IN RANK ORDER, each merge
      // greedy leftmost-non-overlapping (exactly `replace()` semantics
      // in BOTH engines on chr(31)-joined symbols, the x_bpe_train
      // parity trick), and report per-doc token counts. This is the
      // operation a training pipeline runs over 100 TB (encode
      // dominates; training the vocab is one-off), and the plan has
      // the right scale shape for it: merges train on and apply to
      // the DISTINCT-WORD vocabulary (bounded, freq-weighted), the
      // corpus-sized work is one word-keyed hash join of the token
      // stream against the encoded vocab + a per-doc aggregate —
      // cost O(corpus tokens), never O(corpus x merges).
      (s, d) => {
        val us = "chr(31)"
        val docsAz = t(s, d, "documents")
          .withColumn("a", expr(s"regexp_replace($sparkNorm, '[^\\\\x00-\\\\x7f]', '')"))
        val wordsPerDoc = docsAz
          .select(col("doc_id"),
            explode(expr("regexp_extract_all(a, '[a-z]+', 0)")).as("w"))
          .cutLineage() // reused by train (via rollup) and encode join
        val words = wordsPerDoc
          .groupBy("w").agg(count(lit(1)).as("freq"))
          .withColumn("s", expr(s"array_join(regexp_extract_all(w, '.', 0), $us)"))
          .cutLineage()
        def pairCounts(df: org.apache.spark.sql.DataFrame) = df
          .withColumn("sy", expr(s"split(s, $us)"))
          .withColumn("pr", expr(
            """CASE WHEN size(sy) >= 2
                 THEN transform(sequence(1, size(sy) - 1),
                        i -> struct(element_at(sy, i) AS a,
                                    element_at(sy, i + 1) AS b))
                 ELSE CAST(array() AS array<struct<a:string,b:string>>) END"""))
          .select(col("freq"), explode(col("pr")).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum("freq").as("cnt"))
        def best(pc: org.apache.spark.sql.DataFrame) =
          pc.orderBy(col("cnt").desc, col("a").asc, col("b").asc).limit(1)
        def applyMerge(df: org.apache.spark.sql.DataFrame,
            m: org.apache.spark.sql.DataFrame) = df
          .crossJoin(broadcast(m.select(col("a").as("__ma"), col("b").as("__mb"))))
          .withColumn("s", expr(s"replace(s, __ma || $us || __mb, __ma || __mb)"))
          .drop("__ma", "__mb")
        // rank-ordered merge list, trained exactly as x_bpe_train does,
        // one more round (3 merges) — then applied in that order
        val sep1 = applyMerge(words, best(pairCounts(words))).cutLineage()
        val sep2 = applyMerge(sep1, best(pairCounts(sep1))).cutLineage()
        val sep3 = applyMerge(sep2, best(pairCounts(sep2)))
        val encoded = sep3
          .select(col("w"), expr(s"size(split(s, $us))").as("n_tok"))
        wordsPerDoc.join(encoded, Seq("w"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"),
            sum(length(col("w"))).as("n_chars_az"),
            sum("n_tok").as("n_tokens"))
          .orderBy("doc_id")
      },
      Some(s"""WITH wpd AS MATERIALIZED (
                SELECT doc_id, unnest(regexp_extract_all(a, '[a-z]+')) AS w
                FROM (SELECT doc_id,
                        regexp_replace($duckNorm, '[^\\x00-\\x7f]', '', 'g') AS a
                      FROM documents)),
              w0 AS MATERIALIZED (
                SELECT w, CAST(count(*) AS BIGINT) AS freq,
                  array_to_string(regexp_extract_all(w, '.'), chr(31)) AS s
                FROM wpd GROUP BY w),
              p1 AS (
                SELECT sy[CAST(i AS INT)] AS a, sy[CAST(i AS INT) + 1] AS b,
                  CAST(sum(freq) AS BIGINT) AS cnt
                FROM (SELECT freq, string_split(s, chr(31)) AS sy FROM w0),
                  UNNEST(range(1, len(sy))) AS u(i)
                GROUP BY 1, 2),
              m1 AS MATERIALIZED (
                SELECT a, b FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
              sep1 AS MATERIALIZED (
                SELECT w, freq, replace(s, (SELECT a || chr(31) || b FROM m1),
                  (SELECT a || b FROM m1)) AS s
                FROM w0),
              p2 AS (
                SELECT sy[CAST(i AS INT)] AS a, sy[CAST(i AS INT) + 1] AS b,
                  CAST(sum(freq) AS BIGINT) AS cnt
                FROM (SELECT freq, string_split(s, chr(31)) AS sy FROM sep1),
                  UNNEST(range(1, len(sy))) AS u(i)
                GROUP BY 1, 2),
              m2 AS MATERIALIZED (
                SELECT a, b FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
              sep2 AS MATERIALIZED (
                SELECT w, freq, replace(s, (SELECT a || chr(31) || b FROM m2),
                  (SELECT a || b FROM m2)) AS s
                FROM sep1),
              p3 AS (
                SELECT sy[CAST(i AS INT)] AS a, sy[CAST(i AS INT) + 1] AS b,
                  CAST(sum(freq) AS BIGINT) AS cnt
                FROM (SELECT freq, string_split(s, chr(31)) AS sy FROM sep2),
                  UNNEST(range(1, len(sy))) AS u(i)
                GROUP BY 1, 2),
              m3 AS MATERIALIZED (
                SELECT a, b FROM p3 ORDER BY cnt DESC, a, b LIMIT 1),
              enc AS MATERIALIZED (
                SELECT w, CAST(len(string_split(
                    replace(s, (SELECT a || chr(31) || b FROM m3),
                      (SELECT a || b FROM m3)), chr(31))) AS BIGINT) AS n_tok
                FROM sep2)
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
                CAST(sum(length(w)) AS BIGINT) AS n_chars_az,
                CAST(sum(n_tok) AS BIGINT) AS n_tokens
              FROM wpd JOIN enc USING (w)
              GROUP BY doc_id ORDER BY doc_id""")),

    Q("x_chunk_dedup",
      // Cross-document chunk-level dedup, keep-first (the C4 recipe,
      // which dedups at sub-document granularity so boilerplate shared
      // by otherwise-distinct pages is dropped exactly once): docs
      // split into disjoint 16-token chunks, each chunk occurrence
      // survives iff it is the globally FIRST occurrence of its md5
      // (document order, then position order). Output is the per-doc
      // survival profile — chunk count, kept count, dropped ppm — the
      // numbers a curation run reports per shard. Scale shape: chunking
      // is row-local fan-out; the only shuffle is the keep-first window
      // keyed on the chunk hash, which is uniformly distributed by
      // construction (md5), so no salting is ever needed; at 100 TB
      // this is THE canonical single-shuffle dedup pass.
      (s, d) => {
        // chunking via the product operator (Curation.docChunks — the
        // same rows the Curate CLI and chunkDedupSink consume)
        val chunks = graft.operators.Curation
          .docChunks(t(s, d, "documents"))
          .select("doc_id", "chunk_no", "h")
        val w = Window.partitionBy("h")
          .orderBy(col("doc_id").asc, col("chunk_no").asc)
        chunks.withColumn("rn", row_number().over(w))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"))
          .withColumn("drop_ppm",
            expr("1000000 * (n_chunks - n_kept) div n_chunks"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
              CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              CAST(1000000 * (count(*) - sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS drop_ppm
              FROM (SELECT doc_id, c AS chunk_no,
                      row_number() OVER (PARTITION BY h ORDER BY doc_id, c) AS rn
                    FROM (SELECT doc_id, c,
                            md5(array_to_string(
                              list_slice(toks, CAST(c * 16 + 1 AS INT),
                                CAST(least(c * 16 + 16, n) AS INT)), ' ')) AS h
                          FROM (SELECT doc_id, toks, len(toks) AS n
                                FROM (SELECT doc_id,
                                        string_split($duckNorm, ' ') AS toks
                                      FROM documents)),
                            UNNEST(range(0, (n - 1) // 16 + 1)) AS u(c)))
              GROUP BY doc_id ORDER BY doc_id""")),

    Q("x_vocab_topk",
      // Vocabulary construction (the tokenizer-training first step):
      // global token frequencies, top 20 by count. Explode + one
      // partial-aggregated groupBy, then orderBy+limit — which Spark
      // plans as TakeOrderedAndProject (per-partition top-20, merge at
      // the driver), unconditionally safe even when the "vocabulary" is
      // web-scale junk (URLs, numbers) rather than language-sized
      // (round-4 verdict nit #4). The rank window runs AFTER the limit,
      // over exactly 20 rows.
      (s, d) => {
        val vocab = t(s, d, "documents")
          .select(explode(expr(s"split($sparkNorm, ' ')")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("n"))
        vocab
          .orderBy(col("n").desc, col("tok")).limit(20)
          .withColumn("rank",
            row_number().over(Window.orderBy(col("n").desc, col("tok"))))
          .orderBy("rank")
      },
      Some(s"""SELECT tok, n, rank FROM (
                SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok) AS rank
                FROM (SELECT tok, count(*) AS n
                      FROM (SELECT unnest(string_split($duckNorm, ' ')) AS tok
                            FROM documents)
                      GROUP BY tok))
              WHERE rank <= 20 ORDER BY rank""")),

    Q("x_burstiness",
      // Token burstiness / dispersion (seventeenth-proposal #3; Church-
      // Gale 1995, "Poisson mixtures"): content words are BURSTY — a
      // doc that mentions one tends to mention it again — while
      // function words spread Poisson-like. Three exact signals per
      // token over the per-doc count frame, for the top-20 tokens by
      // collection frequency: the variance-to-mean ratio of per-doc
      // counts INCLUDING zero docs (Poisson => ~1; bursty >> 1),
      // computed as one exact rational (ssq*D - cf^2)/(cf*D) — the
      // numerator is Cauchy-Schwarz-nonnegative so the single floor-e6
      // div agrees across engines; the per-containing-doc rate cf/df;
      // and Church's adaptation P(>=2 | >=1) = df2/df. All integer
      // moments (cf, df, df2, sum of squared counts) off ONE
      // partial-aggregated (doc, token) groupBy; top-20 is
      // TakeOrderedAndProject, never a full sort. 100x: the (doc,tok)
      // frame is the same shape every tokenizer-training pass already
      // shuffles; moments fold map-side.
      (s, d) => {
        val docs = t(s, d, "documents")
        val nDocs = broadcast(docs.agg(count(lit(1)).as("n_docs")))
        val perDoc = docs
          .select(col("doc_id"), explode(expr(s"split($sparkNorm, ' ')")).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
        perDoc.groupBy("tok").agg(
            sum("cnt").as("cf"),
            count(lit(1)).as("df"),
            sum(when(col("cnt") >= 2, 1L).otherwise(0L)).as("df2"),
            sum(expr("cnt * cnt")).as("ssq"))
          .crossJoin(nDocs)
          .orderBy(col("cf").desc, col("tok")).limit(20)
          .withColumn("vmr_e6", expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * (CAST(ssq AS DECIMAL(38,0)) * n_docs - CAST(cf AS DECIMAL(38,0)) * cf))" +
              " div (CAST(cf AS DECIMAL(38,0)) * n_docs) AS BIGINT)"))
          .withColumn("rate_e6", expr("CAST((1000000 * cf) div df AS BIGINT)"))
          .withColumn("adapt_e6", expr("CAST((1000000 * df2) div df AS BIGINT)"))
          .select("tok", "cf", "df", "df2", "vmr_e6", "rate_e6", "adapt_e6")
          .orderBy(col("cf").desc, col("tok"))
      },
      Some(s"""WITH perdoc AS (
                SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS cnt
                FROM (SELECT doc_id, unnest(string_split($duckNorm, ' ')) AS tok
                      FROM documents)
                GROUP BY 1, 2),
              nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
              stats AS (
                SELECT tok, CAST(sum(cnt) AS BIGINT) AS cf,
                  CAST(count(*) AS BIGINT) AS df,
                  CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS df2,
                  CAST(sum(cnt * cnt) AS BIGINT) AS ssq
                FROM perdoc GROUP BY 1),
              top AS (
                SELECT * FROM stats, nd ORDER BY cf DESC, tok LIMIT 20)
              SELECT tok, cf, df, df2,
                CAST((CAST(1000000 AS HUGEINT)
                    * (CAST(ssq AS HUGEINT) * n_docs - CAST(cf AS HUGEINT) * cf))
                  // (CAST(cf AS HUGEINT) * n_docs) AS BIGINT) AS vmr_e6,
                CAST((1000000 * cf) // df AS BIGINT) AS rate_e6,
                CAST((1000000 * df2) // df AS BIGINT) AS adapt_e6
              FROM top ORDER BY cf DESC, tok""")),

    Q("x_heaps_law",
      // Heaps-law vocabulary growth (seventeenth-proposal #5; Heaps
      // 1978): exact TYPE count at seven DOUBLING document-prefix
      // checkpoints (D/64 .. D), the measured curve behind vocab
      // sizing. The type unit is the token-TRIGRAM shingle (the
      // x_contamination unit): the synthetic corpus draws from a
      // ~31-word pool, so unigram types saturate inside the first
      // checkpoint (measured before choosing the unit) while shingle
      // types keep growing — the Heaps regime — no log fit, only exact counts and their consecutive-
      // checkpoint ratios in floor-e6 (sublinear v_growth vs ~2x
      // t_growth IS the Heaps claim, shown rather than fitted (1.84x
      // falling to 1.55x across the last doublings at sf0.01)). The
      // document order is a deterministic md5 permutation (corpus
      // order would confound growth with source layout); the prefix
      // position comes from the mann_whitney-style TWO-PHASE rank —
      // 256 md5-prefix buckets, cross-bucket cumulative + within-
      // bucket row_number — never a global window (the hex-prefix
      // bucket order equals the full-string order because hex digits
      // are ascii-ordered). Each shingle type then needs only
      // min(first position): one groupBy, no iteration; checkpoints join as a
      // broadcast 7-row frame. Oracle ranks on a FLAT row_number so
      // green proves the two-phase identity.
      (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), expr(s"split($sparkNorm, ' ')").as("toks"))
          .withColumn("h", md5(col("doc_id").cast("string")))
          .withColumn("hb", expr("conv(substring(h, 1, 2), 16, 10)").cast("long"))
        val byB = docs.groupBy("hb").agg(count(lit(1)).as("bc"))
          .withColumn("cum_below", expr(
            "sum(bc) OVER (ORDER BY hb ROWS UNBOUNDED PRECEDING) - bc"))
        val pos = docs.join(broadcast(byB), Seq("hb"))
          .withColumn("p", col("cum_below") +
            row_number().over(Window.partitionBy("hb").orderBy("h")))
          .select(col("p"), col("toks"))
          .cutLineage()
        val cks = broadcast(pos.agg(count(lit(1)).as("nd"))
          .select(explode(expr(
            "transform(sequence(0, 6), j -> struct(CAST(j AS BIGINT) AS ck_id," +
              " greatest(CAST(1 AS BIGINT)," +
              " nd div shiftleft(CAST(1 AS BIGINT), 6 - j)) AS n_ck))"))
            .as("c"))
          .select(col("c.*")))
        val vck = pos.filter(expr("size(toks) > 2"))
          .select(col("p"), explode(expr(
            """transform(sequence(1, size(toks) - 2),
               i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1),
                 element_at(toks, i + 2)))""")).as("sg"))
          .groupBy("sg").agg(min("p").as("fp"))
          .crossJoin(cks).filter(col("fp") <= col("n_ck"))
          .groupBy("ck_id", "n_ck").agg(count(lit(1)).as("n_types"))
        val tck = pos.select(col("p"),
            expr("CAST(size(toks) AS BIGINT)").as("ntok"))
          .crossJoin(cks).filter(col("p") <= col("n_ck"))
          .groupBy(col("ck_id").as("t_ck")).agg(sum("ntok").as("n_tokens"))
        val cur = vck.join(tck, col("ck_id") === col("t_ck"))
          .select(col("ck_id"), col("n_ck").as("n_docs_ck"),
            col("n_tokens"), col("n_types"))
        cur.join(
            cur.select(col("ck_id").as("prev_id"),
              col("n_types").as("v_prev"), col("n_tokens").as("t_prev")),
            col("prev_id") === col("ck_id") - 1, "left")
          .select(col("ck_id"), col("n_docs_ck"), col("n_tokens"), col("n_types"),
            expr("CAST(CASE WHEN ck_id = 0 THEN 0" +
              " ELSE (1000000 * n_types) div v_prev END AS BIGINT)")
              .as("v_growth_e6"),
            expr("CAST(CASE WHEN ck_id = 0 THEN 0" +
              " ELSE (1000000 * n_tokens) div t_prev END AS BIGINT)")
              .as("t_growth_e6"))
          .orderBy("ck_id")
      },
      Some(s"""WITH docs AS (
                SELECT doc_id, string_split($duckNorm, ' ') AS toks,
                  md5(CAST(doc_id AS VARCHAR)) AS h
                FROM documents),
              pos AS (
                SELECT toks, CAST(row_number() OVER (ORDER BY h) AS BIGINT) AS p
                FROM docs),
              tot AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM pos),
              cks AS (
                SELECT CAST(j AS BIGINT) AS ck_id,
                  greatest(1, (SELECT nd FROM tot) // (1 << CAST(6 - j AS INT)))
                    AS n_ck
                FROM range(0, 7) t(j)),
              fp AS (
                SELECT sg, CAST(min(p) AS BIGINT) AS fp
                FROM (SELECT p,
                        unnest(list_transform(range(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i + 1] || ' '
                            || toks[i + 2])) AS sg
                      FROM pos WHERE len(toks) > 2)
                GROUP BY 1),
              vck AS (
                SELECT c.ck_id, CAST(c.n_ck AS BIGINT) AS n_ck,
                  CAST(count(*) AS BIGINT) AS n_types
                FROM fp, cks c WHERE fp.fp <= c.n_ck GROUP BY 1, 2),
              tck AS (
                SELECT c.ck_id, CAST(sum(len(toks)) AS BIGINT) AS n_tokens
                FROM pos, cks c WHERE pos.p <= c.n_ck GROUP BY 1)
              SELECT v.ck_id, v.n_ck AS n_docs_ck, t.n_tokens, v.n_types,
                CAST(CASE WHEN v.ck_id = 0 THEN 0
                  ELSE (1000000 * v.n_types) // pv.n_types END AS BIGINT)
                  AS v_growth_e6,
                CAST(CASE WHEN v.ck_id = 0 THEN 0
                  ELSE (1000000 * t.n_tokens) // pt.n_tokens END AS BIGINT)
                  AS t_growth_e6
              FROM vck v JOIN tck t ON v.ck_id = t.ck_id
              LEFT JOIN vck pv ON pv.ck_id = v.ck_id - 1
              LEFT JOIN tck pt ON pt.ck_id = t.ck_id - 1
              ORDER BY v.ck_id""")),

    Q("x_lexical_richness",
      // Lexical-richness spectrum (eighteenth-proposal #2; Yule 1944,
      // Simpson 1949): per source, Yule's characteristic K and
      // Simpson's repeat concentration D straight off the frequency
      // spectrum, plus hapax/dis-legomena counts and the type-token
      // ratio — every statistic an exact integer rational, no logs
      // (Herdan's C and Honore's H are declared out: both need libm).
      // Both K and D share one exact numerator, the repeat count
      // rep2 = sum f(f-1) = S2 - N: K = 1e4 * rep2/N^2 (published in
      // millionths of K's own 1e4 convention) and D = rep2/(N(N-1))
      // (published e9) — so a single spectrum aggregate feeds every
      // column. The type unit is the token-trigram shingle (the
      // x_heaps_law rationale: the synthetic corpus's ~31-word unigram
      // vocabulary makes unigram hapaxes vanish). Scale shape: one
      // (source, shingle) partial-agg groupBy — the same frame every
      // tokenizer pass shuffles — then a sources-bounded rollup.
      (s, d) => {
        val freq = spread(t(s, d, "documents"))
          .withColumn("toks", expr(s"split($sparkNorm, ' ')"))
          .filter(expr("size(toks) > 2"))
          .select(col("source"), explode(expr(
            """transform(sequence(1, size(toks) - 2),
               i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1),
                 element_at(toks, i + 2)))""")).as("sg"))
          .groupBy("source", "sg").agg(count(lit(1)).as("f"))
        freq.groupBy("source").agg(
            sum("f").as("n"),
            count(lit(1)).as("v"),
            sum(when(col("f") === 1, 1L).otherwise(0L)).as("v1"),
            sum(when(col("f") === 2, 1L).otherwise(0L)).as("v2"),
            sum(expr("f * (f - 1)")).as("rep2"))
          .select(col("source"), col("n"), col("v"), col("v1"), col("v2"),
            expr("CAST((CAST(10000000000 AS DECIMAL(38,0)) * rep2)" +
              " div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)")
              .as("yule_k_e6"),
            expr("CAST((CAST(1000000000 AS DECIMAL(38,0)) * rep2)" +
              " div (CAST(n AS DECIMAL(38,0)) * (n - 1)) AS BIGINT)")
              .as("simpson_e9"),
            expr("CAST((1000000 * v) div n AS BIGINT)").as("ttr_e6"))
          .orderBy("source")
      },
      Some(s"""WITH freq AS (
                SELECT source, sg, CAST(count(*) AS BIGINT) AS f
                FROM (SELECT source,
                        unnest(list_transform(range(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i + 1] || ' '
                            || toks[i + 2])) AS sg
                      FROM (SELECT source, string_split($duckNorm, ' ') AS toks
                            FROM documents)
                      WHERE len(toks) > 2)
                GROUP BY 1, 2)
              SELECT source, CAST(sum(f) AS BIGINT) AS n,
                CAST(count(*) AS BIGINT) AS v,
                CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
                CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS v2,
                CAST((CAST(10000000000 AS HUGEINT) * sum(f * (f - 1)))
                  // (CAST(sum(f) AS HUGEINT) * sum(f)) AS BIGINT)
                  AS yule_k_e6,
                CAST((CAST(1000000000 AS HUGEINT) * sum(f * (f - 1)))
                  // (CAST(sum(f) AS HUGEINT) * (sum(f) - 1)) AS BIGINT)
                  AS simpson_e9,
                CAST((1000000 * count(*)) // sum(f) AS BIGINT) AS ttr_e6
              FROM freq GROUP BY source ORDER BY source""")),

    Q("x_keyness_chi2",
      // Keyword extraction by exact chi-square keyness (eighteenth-
      // proposal #3; the corpus-linguistics keyness family — Dunning's
      // 1993 log-likelihood is declared out as libm, the 2x2
      // chi-square is its exact-rational member): per source, the
      // top-10 OVERREPRESENTED trigram shingles vs the rest of the
      // corpus. The 2x2 table per (source, shingle) is
      // (a = in-source count, b = elsewhere, c/d = complements);
      // chi2 = N(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)) published floor-e6
      // in TWO stages sized for DECIMAL(38,0): q1 = (ad-bc)^2 div
      // ((a+b)(c+d)) first, then 1e6*N*q1 div ((a+c)(b+d)) — the
      // single-division form peaks at 4.6e37 at sf1 (no margin);
      // staged, the peaks are 1.7e24 and 1.6e24 (margin to ~sf100).
      // Overrepresentation gate a*N > (a+b)(a+c) in exact BIGINTs.
      // Scale shape: one (source, shingle) groupBy; the per-shingle
      // corpus totals broadcast (types are vocabulary-bounded);
      // top-10 per source via a source-partitioned rank window.
      (s, d) => {
        val sh = spread(t(s, d, "documents"))
          .withColumn("toks", expr(s"split($sparkNorm, ' ')"))
          .filter(expr("size(toks) > 2"))
          .select(col("source"), explode(expr(
            """transform(sequence(1, size(toks) - 2),
               i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1),
                 element_at(toks, i + 2)))""")).as("sg"))
        val bySrcTok = sh.groupBy("source", "sg").agg(count(lit(1)).as("a"))
          .cutLineage()
        val byTok = bySrcTok.groupBy("sg").agg(sum("a").as("ft"))
        val bySrc = bySrcTok.groupBy("source").agg(sum("a").as("ns"))
        val tot = broadcast(bySrcTok.agg(sum("a").as("nn")))
        val scored = bySrcTok
          .join(broadcast(byTok), Seq("sg"))
          .join(broadcast(bySrc), Seq("source"))
          .crossJoin(tot)
          .filter(expr("a * nn > ft * ns"))
          .withColumn("advbc", expr(
            "a * (nn - ft - ns + a) - (ft - a) * (ns - a)"))
          .withColumn("q1", expr(
            "(CAST(advbc AS DECIMAL(38,0)) * advbc)" +
              " div (CAST(ft AS DECIMAL(38,0)) * (nn - ft))"))
          .withColumn("chi2_e6", expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * nn * q1)" +
              " div (CAST(ns AS DECIMAL(38,0)) * (nn - ns)) AS BIGINT)"))
          .withColumn("exp_e6", expr("(1000000 * ft * ns) div nn"))
        scored
          .withColumn("rank", row_number().over(
            Window.partitionBy("source")
              .orderBy(col("chi2_e6").desc, col("sg"))))
          .filter(col("rank") <= 10)
          .select(col("source"), col("rank").cast("long").as("rank"),
            col("sg"), col("a"), col("exp_e6"), col("chi2_e6"))
          .orderBy("source", "rank")
      },
      Some(s"""WITH sh AS (
                SELECT source,
                  unnest(list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
                    AS sg
                FROM (SELECT source, string_split($duckNorm, ' ') AS toks
                      FROM documents)
                WHERE len(toks) > 2),
              bst AS (
                SELECT source, sg, CAST(count(*) AS BIGINT) AS a
                FROM sh GROUP BY 1, 2),
              bt AS (SELECT sg, CAST(sum(a) AS BIGINT) AS ft FROM bst
                     GROUP BY 1),
              bs AS (SELECT source, CAST(sum(a) AS BIGINT) AS ns FROM bst
                     GROUP BY 1),
              tot AS (SELECT CAST(sum(a) AS BIGINT) AS nn FROM bst),
              scored AS (
                SELECT b.source, b.sg, b.a, bt.ft, bs.ns, t.nn,
                  b.a * (t.nn - bt.ft - bs.ns + b.a)
                    - (bt.ft - b.a) * (bs.ns - b.a) AS advbc
                FROM bst b JOIN bt ON b.sg = bt.sg
                JOIN bs ON b.source = bs.source
                CROSS JOIN tot t
                WHERE b.a * t.nn > bt.ft * bs.ns),
              chi AS (
                SELECT source, sg, a,
                  CAST((1000000 * ft * ns) // nn AS BIGINT) AS exp_e6,
                  CAST((CAST(1000000 AS HUGEINT) * nn *
                      ((CAST(advbc AS HUGEINT) * advbc)
                        // (CAST(ft AS HUGEINT) * (nn - ft))))
                    // (CAST(ns AS HUGEINT) * (nn - ns)) AS BIGINT)
                    AS chi2_e6
                FROM scored),
              ranked AS (
                SELECT *, row_number() OVER (PARTITION BY source
                    ORDER BY chi2_e6 DESC, sg) AS rank
                FROM chi)
              SELECT source, CAST(rank AS BIGINT) AS rank, sg, a, exp_e6,
                chi2_e6
              FROM ranked WHERE rank <= 10
              ORDER BY source, rank""")),

    Q("x_bigram_accuracy",
      // Bigram next-token accuracy (nineteenth-proposal #3) — the
      // LM-ish evaluation loop with NO logarithm anywhere: per
      // source, train an argmax bigram table on the md5-even half of
      // docs (the h48 split discipline — membership a pure function
      // of doc identity, so retries and repartitioning can never move
      // a document across the split) and score top-1 next-token
      // accuracy on the held-out half. Prediction for a context is
      // the most frequent successor with a DETERMINISTIC tie-break
      // (highest count, then lexicographically smallest token — a
      // total order both engines sort identically). Distinct from
      // x_unigram_train/x_unigram_encode (tokenizer LEARNING — what
      // to segment) and x_perplexity-free by construction: accuracy
      // is pure counting, the honest surrogate when libm is out of
      // bounds. Published per source: train bigram tokens, model
      // contexts, eval bigram tokens, hits, misses, out-of-vocabulary
      // contexts (no prediction exists), and floor-e6 accuracy.
      // Scale shape: both halves aggregate to (source, prev, next)
      // count frames BEFORE any join (the corpus is touched exactly
      // twice, both partial-agg shuffles); the model is
      // vocabulary-bounded and BROADCAST into the eval frame — at
      // 100 TB the eval side never wide-shuffles, only the
      // vocab^2-bounded model moves.
      (s, d) => {
        val bigrams = spread(t(s, d, "documents"))
          .withColumn("is_train", expr(s"($sparkDocH48) % 2 = 0"))
          .withColumn("toks", expr(s"split($sparkNorm, ' ')"))
          .filter(expr("size(toks) > 1"))
          .select(col("source"), col("is_train"), explode(expr(
            """transform(sequence(1, size(toks) - 1),
               i -> struct(element_at(toks, i) AS prev,
                 element_at(toks, i + 1) AS nxt))""")).as("bg"))
          .select(col("source"), col("is_train"),
            col("bg.prev").as("prev"), col("bg.nxt").as("nxt"))
        val trainCnt = bigrams.filter(col("is_train"))
          .groupBy("source", "prev", "nxt").agg(count(lit(1)).as("cnt"))
        val model = trainCnt
          .withColumn("rk", row_number().over(
            Window.partitionBy("source", "prev")
              .orderBy(col("cnt").desc, col("nxt"))))
          .filter(col("rk") === 1)
          .select(col("source"), col("prev"), col("nxt").as("pred"))
        val trainTot = trainCnt.groupBy("source").agg(
          sum("cnt").as("n_train"),
          countDistinct("prev").as("n_contexts"))
        val evalCnt = bigrams.filter(!col("is_train"))
          .groupBy("source", "prev", "nxt").agg(count(lit(1)).as("ec"))
        evalCnt.join(broadcast(model), Seq("source", "prev"), "left")
          .groupBy("source").agg(
            sum("ec").as("n_eval"),
            sum(when(col("nxt") === col("pred"), col("ec"))
              .otherwise(0L)).as("hits"),
            sum(when(col("pred").isNull, col("ec")).otherwise(0L))
              .as("oov"))
          .join(broadcast(trainTot), Seq("source"), "left")
          .select(col("source"),
            coalesce(col("n_train"), lit(0L)).as("n_train"),
            coalesce(col("n_contexts"), lit(0L)).as("n_contexts"),
            col("n_eval"), col("hits"),
            (col("n_eval") - col("hits") - col("oov")).as("misses"),
            col("oov"),
            expr("CAST((hits * 1000000) div greatest(n_eval, 1)" +
              " AS BIGINT)").as("acc_e6"))
          .orderBy("source")
      },
      Some(s"""WITH toks AS (
                SELECT source, ($duckDocH48) % 2 = 0 AS is_train,
                  string_split($duckNorm, ' ') AS tk
                FROM documents),
              bg AS (
                SELECT source, is_train, tk[i] AS prev, tk[i + 1] AS nxt
                FROM toks, LATERAL (
                  SELECT unnest(range(1, len(tk))) AS i)
                WHERE len(tk) > 1),
              train_cnt AS (
                SELECT source, prev, nxt, CAST(count(*) AS BIGINT) AS cnt
                FROM bg WHERE is_train GROUP BY 1, 2, 3),
              model AS (
                SELECT source, prev, nxt AS pred FROM (
                  SELECT source, prev, nxt,
                    row_number() OVER (PARTITION BY source, prev
                      ORDER BY cnt DESC, nxt) AS rk
                  FROM train_cnt) WHERE rk = 1),
              train_tot AS (
                SELECT source, CAST(sum(cnt) AS BIGINT) AS n_train,
                  CAST(count(DISTINCT prev) AS BIGINT) AS n_contexts
                FROM train_cnt GROUP BY 1),
              eval_cnt AS (
                SELECT source, prev, nxt, CAST(count(*) AS BIGINT) AS ec
                FROM bg WHERE NOT is_train GROUP BY 1, 2, 3),
              scored AS (
                SELECT e.source, CAST(sum(ec) AS BIGINT) AS n_eval,
                  CAST(sum(CASE WHEN e.nxt = m.pred THEN ec ELSE 0 END)
                    AS BIGINT) AS hits,
                  CAST(sum(CASE WHEN m.pred IS NULL THEN ec ELSE 0 END)
                    AS BIGINT) AS oov
                FROM eval_cnt e
                LEFT JOIN model m
                  ON e.source = m.source AND e.prev = m.prev
                GROUP BY 1)
              SELECT s.source,
                CAST(coalesce(t.n_train, 0) AS BIGINT) AS n_train,
                CAST(coalesce(t.n_contexts, 0) AS BIGINT) AS n_contexts,
                s.n_eval, s.hits,
                CAST(s.n_eval - s.hits - s.oov AS BIGINT) AS misses,
                s.oov,
                CAST((s.hits * 1000000) // greatest(s.n_eval, 1)
                  AS BIGINT) AS acc_e6
              FROM scored s LEFT JOIN train_tot t ON s.source = t.source
              ORDER BY s.source""")),

    Q("x_token_gini",
      // Token-frequency Gini concentration (twentieth-proposal #5) —
      // per source, the Lorenz/Gini coefficient of the unigram
      // frequency distribution: how unequally the token mass is
      // spread, the ORDERING complement of x_lexical_richness (which
      // reads the spectrum shape) and x_zipf_slope (which fits the
      // rank law). With frequencies f_(1) <= ... <= f_(V) ranked
      // ascending, G = (2 * sum_i i*f_(i) - (V+1)*N) / (V*N) — every
      // term an integer cross-product, one floor to e6. Rank ties
      // (equal f) cannot move sum_i i*f_(i) (a run of equal values
      // contributes f * sum of its ranks regardless of order within
      // the run), so the row_number tie-break on token is pure
      // determinism, not a convention choice. Published with V, N and
      // the top-1 token share ppm. Scale shape: one (source, token)
      // partial-agg corpus pass; the ranking window partitions by
      // source over the VOCABULARY-bounded frequency frame, never
      // corpus rows.
      (s, d) => {
        val freq = spread(t(s, d, "documents"))
          .select(col("source"),
            explode(expr(s"split($sparkNorm, ' ')")).as("tok"))
          .groupBy("source", "tok").agg(count(lit(1)).as("f"))
        freq
          .withColumn("i", row_number().over(
            Window.partitionBy("source").orderBy(col("f"), col("tok"))))
          .groupBy("source").agg(
            count(lit(1)).as("v"),
            sum("f").as("n"),
            sum(expr("i * f")).as("sif"),
            max("f").as("fmax"))
          .select(col("source"), col("v"), col("n"),
            expr("CAST(((2 * sif - (v + 1) * n) * 1000000)" +
              " div (v * n) AS BIGINT)").as("gini_e6"),
            expr("CAST((fmax * 1000000) div n AS BIGINT)")
              .as("top1_ppm"))
          .orderBy("source")
      },
      Some(s"""WITH freq AS (
                SELECT source, tok, CAST(count(*) AS BIGINT) AS f
                FROM (
                  SELECT source, unnest(string_split($duckNorm, ' ')) AS tok
                  FROM documents)
                GROUP BY 1, 2),
              ranked AS (
                SELECT source, f,
                  row_number() OVER (PARTITION BY source
                    ORDER BY f, tok) AS i
                FROM freq),
              st AS (
                SELECT source, CAST(count(*) AS BIGINT) AS v,
                  CAST(sum(f) AS BIGINT) AS n,
                  CAST(sum(i * f) AS BIGINT) AS sif,
                  CAST(max(f) AS BIGINT) AS fmax
                FROM ranked GROUP BY 1)
              SELECT source, v, n,
                CAST(((2 * sif - (v + 1) * n) * 1000000) // (v * n)
                  AS BIGINT) AS gini_e6,
                CAST((fmax * 1000000) // n AS BIGINT) AS top1_ppm
              FROM st ORDER BY source""")),

    Q("x_contamination",
      // Train/eval decontamination check (the n-gram-overlap method every
      // published LLM data pipeline runs before heldout evaluation):
      // distinct token-trigram shingles per source, self-joined on the
      // shingle -> shared-shingle count and containment ratio per source
      // pair. Output is sources^2-bounded; the join fans out at most
      // n_sources^2 rows per shingle. The merge hint keeps the shared
      // distinct-shingle subtree on one exchange (see SelfJoinMergeHint).
      (s, d) => {
        val sh = spread(t(s, d, "documents"))
          .withColumn("toks", expr(s"split($sparkNorm, ' ')"))
          .filter(expr("size(toks) > 2"))
          .select(col("source"), explode(expr(
            """transform(sequence(1, size(toks) - 2),
               i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1),
                 element_at(toks, i + 2)))""")).as("sg"))
          .distinct()
        val totals = sh.groupBy("source").agg(count(lit(1)).as("n_sg"))
        val shared = sh.select(col("source").as("source_a"), col("sg")).hint("merge")
          .join(sh.select(col("source").as("source_b"), col("sg")).hint("merge"), Seq("sg"))
          .filter(col("source_a") < col("source_b"))
          .groupBy("source_a", "source_b")
          .agg(count(lit(1)).as("n_shared"))
        shared
          .join(totals.select(col("source").as("source_a"), col("n_sg").as("n_a")), Seq("source_a"))
          .join(totals.select(col("source").as("source_b"), col("n_sg").as("n_b")), Seq("source_b"))
          .select(col("source_a"), col("source_b"), col("n_shared"),
            round(col("n_shared") * 1.0 / least(col("n_a"), col("n_b")), 4)
              .as("containment"))
          .orderBy("source_a", "source_b")
      },
      Some(s"""WITH sh AS (
                SELECT DISTINCT source, sg FROM (
                  SELECT source,
                    unnest(list_transform(range(1, len(toks) - 1),
                      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS sg
                  FROM (SELECT source, string_split($duckNorm, ' ') AS toks
                        FROM documents)
                  WHERE len(toks) > 2)),
              totals AS (SELECT source, count(*) AS n_sg FROM sh GROUP BY 1),
              shared AS (
                SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
                FROM sh a JOIN sh b ON a.sg = b.sg AND a.source < b.source
                GROUP BY 1, 2)
              SELECT source_a, source_b, n_shared,
                round(n_shared * 1.0 / least(ta.n_sg, tb.n_sg), 4) AS containment
              FROM shared
                JOIN totals ta ON ta.source = source_a
                JOIN totals tb ON tb.source = source_b
              ORDER BY source_a, source_b""")),

    Q("x_decontaminate",
      // The decontamination REMOVAL op oracle-gated (x_contamination is
      // the diagnostic; this verifies Curation.decontaminate's survivor
      // selection): src0 plays the held-out eval set, every other source
      // is training data; a train doc is dropped when it shares >= 8
      // distinct trigrams with eval. Output: per-source train/dropped
      // counts.
      (s, d) => {
        val docs = t(s, d, "documents")
        val train = docs.filter(col("source") =!= "src0")
        val kept = graft.operators.Curation.decontaminate(
          train, docs.filter(col("source") === "src0"))
        train.select("source", "doc_id")
          .join(kept.select(col("doc_id"), lit(1).as("k")), Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_train"),
            sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_dropped"))
          .orderBy("source")
      },
      Some(duckDecontaminate)),

    Q("x_decontaminate_bloom",
      // The SAME decontamination contract through the 100 TB plan:
      // Curation.decontaminateBloom squeezes the eval shingle set into a
      // 2^17-bit Bloom filter (built relationally — xxhash64 positions,
      // bit_or words, one dense array row), broadcasts it, prefilters
      // the train shingle stream with a row-local codegen `forall`
      // membership test, and exact-confirms the sliver that survives.
      // Every false positive dies in the confirm join, so the oracle is
      // IDENTICAL to x_decontaminate's — the driver verifies that a
      // bloom-prefiltered plan changes nothing but the work.
      (s, d) => {
        val docs = t(s, d, "documents")
        val train = docs.filter(col("source") =!= "src0")
        val kept = graft.operators.Curation.decontaminateBloom(
          train, docs.filter(col("source") === "src0"))
        train.select("source", "doc_id")
          .join(kept.select(col("doc_id"), lit(1).as("k")), Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_train"),
            sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_dropped"))
          .orderBy("source")
      },
      Some(duckDecontaminate)),

    Q("x_data_mixture",
      // Training-mix construction ("data mixture"): four sources weighted
      // 0.4/0.3/0.2/0.1 over a 2000-token budget. The oracle states the
      // selection rule in its naive one-window form (per-source running
      // token sum in (md5, doc_id) order, prefix under the budget);
      // Curation.mixtureSelect must produce the IDENTICAL selection via
      // its scale path — per-bucket totals decide 255/256 of each source
      // in bulk, only the boundary bucket pays a per-doc window.
      (s, d) => graft.operators.Curation.mixtureSelect(
          t(s, d, "documents"),
          Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1),
          tokenBudget = 2000L)
        .withColumn("__ntok", expr(s"size(split($sparkNorm, ' '))").cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("__ntok").as("n_tokens"))
        .orderBy("source"),
      Some(s"""WITH d AS (
                SELECT doc_id, source,
                  CAST(len(string_split($duckNorm, ' ')) AS BIGINT) AS ntok,
                  md5(CAST(doc_id AS VARCHAR)) AS h,
                  CASE source WHEN 'src0' THEN 800 WHEN 'src1' THEN 600
                    WHEN 'src2' THEN 400 WHEN 'src3' THEN 200 END AS budget
                FROM documents
                WHERE source IN ('src0', 'src1', 'src2', 'src3')),
              c AS (SELECT *, sum(ntok) OVER (PARTITION BY source
                      ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum
                    FROM d)
              SELECT source, count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens
              FROM c WHERE cum <= budget
              GROUP BY source ORDER BY source""")),

    Q("x_oov_rate",
      // Tokenizer-vocabulary coverage: build the global top-50 vocabulary
      // (the x_vocab_topk shape — TakeOrderedAndProject over the
      // aggregated vocab), then measure each source's out-of-vocabulary
      // token rate against it. The 50-row vocab is broadcast into the
      // token stream join; per-doc OOV fractions aggregate to a per-source
      // mean — the metric a tokenizer-budget decision reads.
      (s, d) => {
        val toks = t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            explode(expr(s"split($sparkNorm, ' ')")).as("tok"))
        val vocab = toks.groupBy("tok").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("tok")).limit(50)
          .select(col("tok"), lit(1).as("in_vocab"))
        toks.join(broadcast(vocab), Seq("tok"), "left")
          .groupBy("doc_id", "source")
          .agg((count(lit(1)) - sum(coalesce(col("in_vocab"), lit(0))))
            .as("n_oov"), count(lit(1)).as("n_tok"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            round(avg(col("n_oov") * 1.0 / col("n_tok")), 4).as("avg_oov_frac"))
          .orderBy("source")
      },
      Some(s"""WITH toks AS (
                SELECT doc_id, source, unnest(string_split($duckNorm, ' ')) AS tok
                FROM documents),
              vocab AS (
                SELECT tok FROM (
                  SELECT tok, count(*) AS n FROM toks GROUP BY tok
                  ORDER BY n DESC, tok LIMIT 50)),
              per_doc AS (
                SELECT tk.doc_id, tk.source,
                  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
                  count(*) AS n_tok
                FROM toks tk LEFT JOIN vocab v ON tk.tok = v.tok
                GROUP BY tk.doc_id, tk.source)
              SELECT source, count(*) AS n_docs,
                round(avg(n_oov * 1.0 / n_tok), 4) AS avg_oov_frac
              FROM per_doc GROUP BY source ORDER BY source""")),

    Q("x_shard_pack",
      // Training-shard packing (the output-layout step a data loader
      // streams): every 64/48 context window is assigned a shard in
      // [0, 8) from the first 16 bits of md5(doc_id:chunk_idx) —
      // uniform, reproducible, row-order independent, zero shuffles
      // before the per-shard rollup. Output proves both the assignment
      // arithmetic and the balance (per-shard chunk/token/doc counts).
      // The DuckDB twin reconstructs the same 16-bit value nibble by
      // nibble (it has no base-16 conv).
      (s, d) => graft.operators.Curation.shardAssign(
          graft.operators.Curation.chunkWindows(t(s, d, "documents")),
          nShards = 8, keyCols = Seq("doc_id", "chunk_idx"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("n_chunk_tokens").cast("long")).as("n_tokens"),
          countDistinct("doc_id").as("n_docs"))
        .orderBy("shard"),
      Some(s"""WITH chunks AS (
                SELECT doc_id, CAST(i AS INT) AS chunk_idx,
                  CAST(least(64, n - (1 + i * 48) + 1) AS BIGINT) AS n_chunk_tokens
                FROM (SELECT doc_id, len(toks) AS n
                      FROM (SELECT doc_id, string_split($duckNorm, ' ') AS toks
                            FROM documents)),
                  UNNEST(range(0, (n - 1) // 48 + 1)) AS u(i)),
              sharded AS (
                SELECT doc_id, n_chunk_tokens,
                  CAST(((strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 4096
                    + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1) * 256
                    + (strpos('0123456789abcdef', substring(h, 3, 1)) - 1) * 16
                    + (strpos('0123456789abcdef', substring(h, 4, 1)) - 1)) % 8 AS INT)
                    AS shard
                FROM (SELECT *, md5(CAST(doc_id AS VARCHAR) || ':' ||
                        CAST(chunk_idx AS VARCHAR)) AS h FROM chunks))
              SELECT shard, count(*) AS n_chunks,
                CAST(sum(n_chunk_tokens) AS BIGINT) AS n_tokens,
                count(DISTINCT doc_id) AS n_docs
              FROM sharded GROUP BY shard ORDER BY shard""")),

    Q("x_shard_manifest",
      // Data-versioning manifest per training shard — the provenance
      // artifact a reproducible run records next to its shards: per
      // shard, the counts PLUS a content fingerprint (md5 over the
      // shard's chunk md5s in sorted order — order-canonical, so two
      // runs that produce the same chunk SET get the same fingerprint
      // regardless of write order). A changed doc, a dropped chunk, or
      // a shard-assignment drift all flip the fingerprint, which is
      // what makes "same data?" a constant-size comparison between
      // runs. At catalog scale the per-shard digest folds a sorted
      // collect_list (KBs); at 100 TB the same column becomes a
      // two-level Merkle (per-partition sorted digest, then digest of
      // digests) — mergeable up the aggregation tree like the
      // sketches.
      (s, d) => {
        val chunks = graft.operators.Curation.chunkWindows(
          t(s, d, "documents"))
        graft.operators.Curation.shardAssign(chunks, nShards = 8,
            keyCols = Seq("doc_id", "chunk_idx"))
          .withColumn("chunk_md5", md5(col("chunk_text")))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_chunks"),
            sum(col("n_chunk_tokens").cast("long")).as("n_tokens"),
            countDistinct("doc_id").as("n_docs"),
            md5(expr(
              "concat_ws('', sort_array(collect_list(chunk_md5)))"))
              .as("manifest_md5"))
          .select(col("shard").cast("long").as("shard"), col("n_chunks"),
            col("n_tokens"), col("n_docs"), col("manifest_md5"))
          .orderBy("shard")
      },
      Some(s"""WITH chunks AS (
                SELECT doc_id, CAST(i AS INT) AS chunk_idx,
                  CAST(least(64, n - (1 + i * 48) + 1) AS BIGINT) AS n_chunk_tokens,
                  md5(array_to_string(list_slice(toks, 1 + i * 48,
                    least(1 + i * 48 + 63, n)), ' ')) AS chunk_md5
                FROM (SELECT doc_id, toks, len(toks) AS n
                      FROM (SELECT doc_id, string_split($duckNorm, ' ') AS toks
                            FROM documents)),
                  UNNEST(range(0, (n - 1) // 48 + 1)) AS u(i)),
              sharded AS (
                SELECT doc_id, n_chunk_tokens, chunk_md5,
                  CAST(((strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 4096
                    + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1) * 256
                    + (strpos('0123456789abcdef', substring(h, 3, 1)) - 1) * 16
                    + (strpos('0123456789abcdef', substring(h, 4, 1)) - 1)) % 8 AS INT)
                    AS shard
                FROM (SELECT *, md5(CAST(doc_id AS VARCHAR) || ':' ||
                        CAST(chunk_idx AS VARCHAR)) AS h FROM chunks))
              SELECT CAST(shard AS BIGINT) AS shard,
                CAST(count(*) AS BIGINT) AS n_chunks,
                CAST(sum(n_chunk_tokens) AS BIGINT) AS n_tokens,
                CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                md5(string_agg(chunk_md5, '' ORDER BY chunk_md5))
                  AS manifest_md5
              FROM sharded GROUP BY shard ORDER BY shard""")),

    Q("x_decontaminate_bigram",
      // Curation.decontaminate's n-gram width is a real knob (published
      // pipelines sweep n per eval suite): same removal op as
      // x_decontaminate but keyed on word BIGRAMS (n=2) with a higher
      // collision threshold — bigrams collide far more often than
      // trigrams, so this exercises both the n parameter and a distinct
      // drop frontier against an independently-derived DuckDB twin.
      (s, d) => {
        val docs = t(s, d, "documents")
        val train = docs.filter(col("source") =!= "src0")
        val kept = graft.operators.Curation.decontaminate(
          train, docs.filter(col("source") === "src0"),
          minShared = 24, n = 2)
        train.select("source", "doc_id")
          .join(kept.select(col("doc_id"), lit(1).as("k")), Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_train"),
            sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_dropped"))
          .orderBy("source")
      },
      Some(s"""WITH sh AS (
                SELECT DISTINCT doc_id, source, sg FROM (
                  SELECT doc_id, source,
                    unnest(list_transform(range(1, len(toks)),
                      i -> toks[i] || ' ' || toks[i + 1])) AS sg
                  FROM (SELECT doc_id, source, string_split($duckNorm, ' ') AS toks
                        FROM documents)
                  WHERE len(toks) > 1)),
              ev AS (SELECT DISTINCT sg FROM sh WHERE source = 'src0'),
              dropped AS (
                SELECT doc_id FROM (
                  SELECT doc_id, count(*) AS n
                  FROM sh JOIN ev USING (sg) WHERE source != 'src0' GROUP BY 1)
                WHERE n >= 24)
              SELECT source, count(*) AS n_train,
                CAST(sum(CASE WHEN dropped.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dropped
              FROM (SELECT source, doc_id FROM documents WHERE source != 'src0') t
                LEFT JOIN dropped ON t.doc_id = dropped.doc_id
              GROUP BY source
              ORDER BY source""")),

    Q("x_curation_funnel",
      // The ENTIRE curation composition oracle-gated end-to-end: per-stage
      // survivor counts of operators.Curation.curate with its default
      // thresholds (minTokens=10, maxDupTokenFrac=0.5, minAlphaFrac=0.5,
      // win=64/stride=48). The DuckDB twin re-derives every stage in SQL —
      // quality predicates, min-doc_id-per-content-hash exact dedup, the
      // simhash + banded pairing + recursive-CTE component fixpoint, and
      // the chunk-count arithmetic — so the COMPOSITION (stage order,
      // threshold arithmetic, survivor selection) is verified, not just
      // each stage in isolation.
      (s, d) => {
        import graft.operators.Curation
        val docs = t(s, d, "documents")
        // Stage pins go up BEFORE construction: nearDupDedup eagerly
        // materializes the pair graph, and with exactDeduped already
        // marked for caching that one pass fills the pin — the funnel
        // prefix (quality gate + exact dedup) derives exactly ONCE for
        // the pairing and all five stats counts together. stats() then
        // re-persists (a no-op) and drops both pins on exit.
        val q = Curation.qualityGate(docs)
        val e = Curation.exactDedup(q).persist()
        val c = Curation.nearDupDedup(e).persist()
        val r = Curation.CurationResult(q, e, c, Curation.chunkWindows(c))
        Curation.stats(s, docs, r)
          .withColumn("stage", expr(
            """CASE stage WHEN 'input' THEN '1_input'
               WHEN 'after_quality_gate' THEN '2_quality'
               WHEN 'after_exact_dedup' THEN '3_exact_dedup'
               WHEN 'after_neardup_dedup' THEN '4_neardup_dedup'
               WHEN 'chunks' THEN '5_chunks' END"""))
          .orderBy("stage")
      },
      Some(s"""WITH RECURSIVE
              base AS (SELECT doc_id, source, text, $duckNorm AS norm FROM documents),
              q AS (SELECT doc_id, source, text, norm, len(string_split(norm, ' ')) AS n
                    FROM base
                    WHERE len(string_split(norm, ' ')) >= 10
                      AND 1.0 - len(list_distinct(string_split(norm, ' '))) * 1.0
                            / len(string_split(norm, ' ')) <= 0.5
                      AND length(regexp_replace(norm, '[^a-z]', '', 'g')) * 1.0
                            / greatest(length(norm), 1) >= 0.5),
              e AS (SELECT * FROM q
                    QUALIFY row_number() OVER (PARTITION BY md5(norm) ORDER BY doc_id) = 1),
              ${duckSimhashCte("e")},
              pairs AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM sims a JOIN sims b
                  ON a.source = b.source AND a.doc_id < b.doc_id
                WHERE bit_count(xor(a.simhash, b.simhash)) <= 8),
              edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
                        UNION ALL SELECT doc_b, doc_a FROM pairs),
              walk(node, lbl) AS (
                SELECT s, s FROM edges
                UNION
                SELECT eg.d, w.lbl FROM walk w JOIN edges eg ON eg.s = w.node),
              comp AS (SELECT node, min(lbl) AS comp FROM walk GROUP BY node),
              surv AS (SELECT e.doc_id, e.n FROM e LEFT JOIN comp c ON e.doc_id = c.node
                       WHERE c.comp IS NULL OR c.comp = e.doc_id)
              SELECT stage, n_rows FROM (
                SELECT '1_input' AS stage, count(*) AS n_rows FROM documents
                UNION ALL SELECT '2_quality', count(*) FROM q
                UNION ALL SELECT '3_exact_dedup', count(*) FROM e
                UNION ALL SELECT '4_neardup_dedup', count(*) FROM surv
                UNION ALL SELECT '5_chunks',
                  CAST(sum((n - 1) // 48 + 1) AS BIGINT) FROM surv)
              ORDER BY stage""")),

    Q("x_charlm_score",
      // Character-bigram LM quality score — the CCNet/Gopher-style
      // "perplexity filter" proxy: train add-one-smoothed bigram
      // probabilities on the corpus itself, then score each document by
      // its mean log-probability per bigram (low = unnatural character
      // statistics = drop candidate). Two passes over the corpus: the
      // count pass is a map-side-combinable groupBy on a key space
      // bounded by alphabet² (the model table is KBs no matter the
      // corpus size), the scoring pass joins that model back BROADCAST —
      // so the heavy streams never shuffle beyond one tiny aggregation.
      // ln() on identical doubles differs by <= ~1 ulp across engines;
      // the 4dp round has ~1e-11 of headroom over the accumulated error.
      (s, d) => charlmDocScores(s, d).orderBy("doc_id"),
      Some(s"""WITH $duckCharlmScored
              SELECT doc_id, n_bigrams, avg_logp FROM scored
              ORDER BY doc_id""")),

    Q("x_ccnet_buckets",
      // CCNet-style perplexity bucketing: rank every doc by its LM
      // score (x_charlm_score's char-bigram proxy) and split the corpus
      // into head/middle/tail terciles — the published CCNet recipe
      // keeps/weights buckets differently downstream. The ntile runs
      // over the ROUNDED score with doc_id as total tiebreak, so the
      // assignment is deterministic on both engines; output is the
      // source x bucket composition matrix a mixture designer reads.
      // SCALE SHAPE (round-9 verdict #1): the naive formulation is
      // `ntile(3) OVER (ORDER BY avg_logp DESC, doc_id)` — a global sort
      // funneled through ONE partition, the w7/length-batching
      // anti-pattern. This plan derives the SAME assignment exactly with
      // no unpartitioned ntile: (a) per-SCORE counts — the distinct-score
      // frame is bounded by the 4dp score resolution (a few thousand
      // values regardless of corpus size), so its cumulative window is a
      // bounded-frame prefix sum, not a data-sized sort; (b) every score
      // group whose full rank range [cum_before+1, cum_end] lands inside
      // one tercile gets its bucket from a BROADCAST join on that tiny
      // frame — row-local, no shuffle of the doc stream; (c) only the
      // <= 2 boundary score groups need the doc_id tiebreak, ranked by a
      // window PARTITIONED by score (each group is one tie run, not the
      // corpus). ntile(3) sizes: s1 = n div 3 + (n%3>=1), s2 = s1 +
      // n div 3 + (n%3>=2) — integer arithmetic, engine-safe.
      (s, d) => {
        // cut: three consumers below (the per-score counts, the interior
        // broadcast join, the boundary join) would otherwise re-run the
        // whole charlm scoring pipeline three times
        val scored = charlmDocScores(s, d)
          .join(t(s, d, "documents").select("doc_id", "source"), Seq("doc_id"))
          .cutLineage()
        val perScore = scored.groupBy("avg_logp")
          .agg(count(lit(1)).as("cnt"))
        val wS = Window.orderBy(col("avg_logp").desc) // bounded score frame
        val cum = perScore
          .withColumn("cum_end", sum("cnt").over(wS))
          .withColumn("cum_before", col("cum_end") - col("cnt"))
          .crossJoin(broadcast(perScore.agg(sum("cnt").as("n"))))
          .withColumn("s1", expr("n div 3 + (CASE WHEN n % 3 >= 1 THEN 1 ELSE 0 END)"))
          .withColumn("s2", expr("s1 + n div 3 + (CASE WHEN n % 3 >= 2 THEN 1 ELSE 0 END)"))
          .withColumn("b_first", expr(
            "CASE WHEN cum_before + 1 <= s1 THEN 1 WHEN cum_before + 1 <= s2 THEN 2 ELSE 3 END"))
          .withColumn("b_last", expr(
            "CASE WHEN cum_end <= s1 THEN 1 WHEN cum_end <= s2 THEN 2 ELSE 3 END"))
        val resolved = cum.filter(col("b_first") === col("b_last"))
          .select(col("avg_logp"), col("b_first").as("bucket"))
        val boundary = cum.filter(col("b_first") =!= col("b_last"))
          .select("avg_logp", "cum_before", "s1", "s2")
        val wG = Window.partitionBy("avg_logp").orderBy(col("doc_id").asc)
        val onBoundary = scored.join(broadcast(boundary), Seq("avg_logp"))
          .withColumn("r", col("cum_before") + row_number().over(wG))
          .select(col("source"), expr(
            "CASE WHEN r <= s1 THEN 1 WHEN r <= s2 THEN 2 ELSE 3 END").as("bucket"))
        scored.join(broadcast(resolved), Seq("avg_logp"))
          .select("source", "bucket")
          .unionByName(onBoundary)
          .groupBy("source", "bucket")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("source", "bucket")
      },
      Some(s"""WITH $duckCharlmScored,
              b AS (SELECT sc.doc_id, dd.source,
                      ntile(3) OVER (ORDER BY sc.avg_logp DESC, sc.doc_id)
                        AS bucket
                    FROM scored sc JOIN documents dd USING (doc_id))
              SELECT source, CAST(bucket AS INT) AS bucket,
                CAST(count(*) AS BIGINT) AS n_docs
              FROM b GROUP BY 1, 2 ORDER BY source, bucket""")),

    Q("x_redact_pii",
      // Cross-engine gate for Curation.redactPii (round-5 verdict #2:
      // the synthetic corpus has no digits, so redaction over `documents`
      // would be a vacuous input==output row). Instead the PII is PLANTED:
      // both engines synthesize the identical text from customer/nation
      // columns — a real email, an email whose local part is IP-shaped
      // (the ordering trap: email must consume it BEFORE the IP rule
      // half-eats it), a bare IPv4, and a phone-shaped run, the last two
      // present only for some keys so n_pii varies 2..4 — then the Spark
      // side runs the production redactPii fold and the oracle replays
      // the SAME PiiPatterns chain (generated from the same Seq, so the
      // two sides cannot drift) as DuckDB regexp_replace steps, counting
      // each pattern on the progressively redacted text exactly like the
      // fold does. Row-local on both engines; compare is full redacted
      // text + per-row n_pii.
      (s, d) => {
        val src = t(s, d, "customer")
          .join(t(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"),
            expr(piiPlantSql(x => s"cast($x as string)")).as("text"))
        graft.operators.Curation.redactPii(src)
          .select(col("c_custkey"), col("text").as("text_redacted"),
            col("n_pii"))
          .orderBy("c_custkey")
      },
      Some(duckRedactSql)),

    Q("x_c4_line_filter",
      // C4-style line-level boilerplate filtering (the per-LINE rules web
      // pipelines run before per-doc quality scoring). The corpus has no
      // newlines, so — like x_redact_pii — the line structure is PLANTED
      // identically on both engines: each doc's tokens become 8-word
      // lines, where line i gets a ' {x}' code marker when
      // (doc_id+i)%7=0 and LOSES its terminal '.' when (doc_id+i)%3=0,
      // so all three drop rules (short line, no terminal punctuation,
      // brace marker) fire on real data. The Spark side then runs the
      // production Curation.c4LineFilter; the verified columns are the
      // per-doc line counts plus the md5 of the reassembled kept text,
      // which pins the order-preserving '\n' reassembly exactly.
      (s, d) => {
        val planted = spread(t(s, d, "documents"))
          .withColumn("toks", expr(s"split($sparkNorm, ' ')"))
          .withColumn("text", expr(
            """array_join(transform(sequence(0, (size(toks) - 1) div 8),
                 i -> concat(array_join(slice(toks, i * 8 + 1, 8), ' '),
                   CASE WHEN (doc_id + i) % 7 = 0 THEN ' {x}' ELSE '' END,
                   CASE WHEN (doc_id + i) % 3 != 0 THEN '.' ELSE '' END)),
               '\n')"""))
          .select("doc_id", "source", "text")
        graft.operators.Curation.c4LineFilter(planted)
          .select(col("doc_id"), col("source"), col("n_lines"),
            col("n_lines_kept"), md5(col("text")).as("kept_md5"))
          .orderBy("doc_id")
      },
      Some(s"""WITH base AS (
                SELECT doc_id, source, string_split($duckNorm, ' ') AS toks
                FROM documents),
              planted AS (
                SELECT doc_id, source,
                  array_to_string(list_transform(range(0, (len(toks) - 1) // 8 + 1),
                    i -> array_to_string(
                        list_slice(toks, CAST(i * 8 + 1 AS INT), CAST(i * 8 + 8 AS INT)), ' ')
                      || (CASE WHEN (doc_id + i) % 7 = 0 THEN ' {x}' ELSE '' END)
                      || (CASE WHEN (doc_id + i) % 3 <> 0 THEN '.' ELSE '' END)),
                    chr(10)) AS text
                FROM base),
              lines AS (
                SELECT doc_id, source, CAST(i AS INT) AS idx, ls[CAST(i AS INT)] AS line
                FROM (SELECT doc_id, source, string_split(text, chr(10)) AS ls
                      FROM planted),
                  UNNEST(range(1, len(ls) + 1)) AS t(i)),
              judged AS (
                SELECT *,
                  (len(string_split(trim(line), ' ')) >= 5
                    AND regexp_matches(line, '[.!?]\\s*$$')
                    AND NOT contains(line, '{') AND NOT contains(line, '}')
                    AND NOT contains(lower(line), 'lorem ipsum')
                    AND NOT contains(lower(line), 'javascript')) AS keep
                FROM lines)
              SELECT doc_id, source, n_lines, n_lines_kept, kept_md5 FROM (
                SELECT doc_id, source, count(*) AS n_lines,
                  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_lines_kept,
                  md5(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY idx))
                    AS kept_md5
                FROM judged GROUP BY 1, 2)
              WHERE n_lines_kept >= 2 ORDER BY doc_id""")),

    Q("x_source_overlap",
      // Cross-source contamination audit: for every pair of sources, how
      // many distinct word-trigram shingles they share and the Jaccard
      // of their shingle sets — the corpus-level overlap matrix a
      // mixture designer reads before weighting sources. Shapes: the
      // distinct (source, shingle) set is one shuffle; the pair join
      // meets on the shingle key with per-shingle fan-out bounded by the
      // SOURCE count (a handful), so it never goes quadratic in docs —
      // the same bucket-join discipline as x_ngram_jaccard, one level up.
      (s, d) => {
        val sh = spread(t(s, d, "documents"))
          .withColumn("toks", expr(s"split($sparkNorm, ' ')"))
          .filter(expr("size(toks) >= 3"))
          .select(col("source"),
            explode(expr("transform(sequence(1, size(toks) - 2),"
              + " i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))")).as("sh"))
          .distinct()
          .cutLineage() // shared by sizes + both join sides
        val sizes = sh.groupBy("source").agg(count(lit(1)).as("n_sh"))
        val a = sh.select(col("source").as("source_a"), col("sh"))
        val b = sh.select(col("source").as("source_b"), col("sh"))
        a.join(b, Seq("sh")).filter(col("source_a") < col("source_b"))
          .groupBy("source_a", "source_b")
          .agg(count(lit(1)).as("n_shared"))
          .join(broadcast(sizes.select(col("source").as("source_a"),
            col("n_sh").as("n_a"))), Seq("source_a"))
          .join(broadcast(sizes.select(col("source").as("source_b"),
            col("n_sh").as("n_b"))), Seq("source_b"))
          .select(col("source_a"), col("source_b"), col("n_shared"),
            round(col("n_shared") * 1.0 / (col("n_a") + col("n_b") - col("n_shared")), 4)
              .as("jaccard"))
          .orderBy("source_a", "source_b")
      },
      Some(s"""WITH sh AS MATERIALIZED (
                SELECT DISTINCT source,
                  concat_ws(' ', toks[CAST(i AS INT)], toks[CAST(i AS INT) + 1],
                            toks[CAST(i AS INT) + 2]) AS sh
                FROM (SELECT source, string_split($duckNorm, ' ') AS toks
                      FROM documents),
                  UNNEST(range(1, len(toks) - 1)) AS t(i)
                WHERE len(toks) >= 3),
              sizes AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY source),
              ov AS (
                SELECT a.source AS source_a, b.source AS source_b,
                  count(*) AS n_shared
                FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
                GROUP BY 1, 2)
              SELECT source_a, source_b, CAST(n_shared AS BIGINT) AS n_shared,
                round(n_shared * 1.0 / (sa.n_sh + sb.n_sh - n_shared), 4) AS jaccard
              FROM ov
                JOIN sizes sa ON sa.source = ov.source_a
                JOIN sizes sb ON sb.source = ov.source_b
              ORDER BY source_a, source_b""")),

    Q("x_repeated_spans",
      // Exact repeated-substring spans — the dedup primitive of
      // "Deduplicating Training Data Makes Language Models Better"
      // (Lee et al. 2022), done relationally instead of via a suffix
      // array: a token 8-gram occurring more than once in the corpus
      // marks its start position, and runs of consecutive marked
      // positions merge into maximal per-doc spans. The fixed-K
      // pigeonhole is exact for the stated guarantee: every repeated
      // substring of >= K tokens is a run of repeated K-grams, so its
      // full extent is recovered by the island merge. Shapes: gram keys
      // travel as xxhash64 (8 bytes, not the 8-token string) through the
      // one corpus-sized shuffle; the duplicate-gram set is a small
      // fraction of the corpus, met with a semi join on the hash; span
      // merging is a per-doc window over only the marked positions.
      (s, d) => repeatedSpanTable(s, d)
        .select(col("doc_id"), col("span_start"), col("span_end"),
          (col("span_end") - col("span_start") + 1).as("span_toks"))
        .orderBy("doc_id", "span_start"),
      Some(s"""WITH $duckSpansCte
              SELECT doc_id, span_start, span_end,
                span_end - span_start + 1 AS span_toks
              FROM spans
              ORDER BY doc_id, span_start""")),

    Q("x_dup_span_fraction",
      // Doc-level repetition audit over the repeated-span primitive: the
      // fraction of each doc's tokens that lie inside ANY corpus-repeated
      // span (>= 8 tokens), plus the keep/drop verdict Lee et al. apply
      // (drop when more than half the doc is repeated content). Two
      // distinct repeated 8-grams can overlap in token coverage even when
      // their start-position islands don't, so spans are interval-merged
      // (running-max window, new group when a span starts past the
      // furthest end seen) before coverage is summed — a plain
      // sum(span_toks) would double-count. The verdict compares
      // 2*dup_toks > n_toks in integers; only the reported fraction
      // rounds. All windows run per-doc over only the marked spans.
      (s, d) => {
        val wPrev = Window.partitionBy("doc_id").orderBy("span_start")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wRun = Window.partitionBy("doc_id").orderBy("span_start")
        val cov = repeatedSpanTable(s, d)
          .withColumn("prev_end", max("span_end").over(wPrev))
          .withColumn("is_new",
            when(col("prev_end").isNull ||
              col("span_start") > col("prev_end"), 1).otherwise(0))
          .withColumn("g", sum("is_new").over(wRun))
          .groupBy("doc_id", "g")
          .agg((max("span_end") - min("span_start") + 1).as("cov"))
          .groupBy("doc_id").agg(sum("cov").cast("long").as("dup_toks"))
        t(s, d, "documents")
          .select(col("doc_id"),
            expr(s"size(split($sparkNorm, ' '))").cast("long").as("n_toks"))
          .join(cov, Seq("doc_id"), "left")
          .withColumn("dup_toks", coalesce(col("dup_toks"), lit(0L)))
          .select(col("doc_id"), col("n_toks"), col("dup_toks"),
            round(col("dup_toks") * 1.0 / col("n_toks"), 4).as("dup_frac"),
            when(col("dup_toks") * 2 > col("n_toks"), "drop")
              .otherwise("keep").as("verdict"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $duckSpansCte,
              docs AS (
                SELECT doc_id,
                  CAST(len(string_split($duckNorm, ' ')) AS BIGINT) AS n_toks
                FROM documents),
              flag AS (
                SELECT doc_id, span_start, span_end,
                  CASE WHEN max(span_end) OVER (PARTITION BY doc_id
                      ORDER BY span_start
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                    OR span_start > max(span_end) OVER (PARTITION BY doc_id
                      ORDER BY span_start
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS is_new
                FROM spans),
              merged AS (
                SELECT doc_id,
                  CAST(max(span_end) - min(span_start) + 1 AS BIGINT) AS cov
                FROM (SELECT doc_id, span_start, span_end,
                        sum(is_new) OVER (PARTITION BY doc_id
                          ORDER BY span_start) AS g
                      FROM flag)
                GROUP BY doc_id, g),
              cov AS (SELECT doc_id, CAST(sum(cov) AS BIGINT) AS dup_toks
                      FROM merged GROUP BY doc_id)
              SELECT d.doc_id, d.n_toks,
                CAST(coalesce(c.dup_toks, 0) AS BIGINT) AS dup_toks,
                round(coalesce(c.dup_toks, 0) * 1.0 / d.n_toks, 4) AS dup_frac,
                CASE WHEN coalesce(c.dup_toks, 0) * 2 > d.n_toks
                  THEN 'drop' ELSE 'keep' END AS verdict
              FROM docs d LEFT JOIN cov c USING (doc_id)
              ORDER BY d.doc_id""")),

    Q("x_seq_pack",
      // Concat-and-split sequence packing — the layout step that turns a
      // curated document stream into fixed-length training sequences:
      // docs are concatenated in doc_id order and split every C tokens;
      // each doc reports its global token offset, the sequence and
      // offset where it starts, the sequence where it ends, and how many
      // context windows it straddles. The global token prefix sum is a
      // two-level distributed scan: block-local running sums (window
      // partitioned by a doc_id block) plus per-block offsets from a
      // cumulative over the block-total table (n/B rows) broadcast back
      // — no single-task global window over the corpus at any scale.
      (s, d) => {
        val C = 64  // context window (tokens), matches chunkWindows
        val B = 128 // docs per scan block
        val docs = t(s, d, "documents")
          .select(col("doc_id"),
            expr(s"size(split($sparkNorm, ' '))").cast("long").as("n_toks"))
          .withColumn("blk", expr(s"doc_id div $B"))
        val local = docs.withColumn("local_pre",
          sum("n_toks").over(Window.partitionBy("blk").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("local_pre", coalesce(col("local_pre"), lit(0L)))
        val offs = docs.groupBy("blk").agg(sum("n_toks").as("blk_toks"))
          .withColumn("blk_off", coalesce(
            sum("blk_toks").over(Window.orderBy("blk")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("blk", "blk_off")
        local.join(broadcast(offs), "blk")
          .withColumn("tok_start", col("blk_off") + col("local_pre"))
          .select(col("doc_id"), col("n_toks"), col("tok_start"),
            expr(s"tok_start div $C").as("seq_first"),
            expr(s"(tok_start + n_toks - 1) div $C").as("seq_last"),
            expr(s"tok_start % $C").as("seq_offset"))
          .withColumn("n_seqs", col("seq_last") - col("seq_first") + lit(1L))
          .orderBy("doc_id")
      },
      Some(s"""WITH docs AS (
                SELECT doc_id,
                  CAST(len(string_split($duckNorm, ' ')) AS BIGINT) AS n_toks
                FROM documents),
              pre AS (
                SELECT doc_id, n_toks,
                  CAST(coalesce(sum(n_toks) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS tok_start
                FROM docs)
              SELECT doc_id, n_toks, tok_start,
                tok_start // 64 AS seq_first,
                (tok_start + n_toks - 1) // 64 AS seq_last,
                tok_start % 64 AS seq_offset,
                (tok_start + n_toks - 1) // 64 - tok_start // 64 + 1 AS n_seqs
              FROM pre ORDER BY doc_id""")),

    Q("x_zipf_slope",
      // Zipf exponent of the corpus token-frequency distribution — the
      // one-number "does this corpus look like natural language" check
      // (natural text sits near slope -1 in ln(freq) ~ ln(rank); a
      // spammy or templated corpus bends away from it). Top-100 vocab
      // is a TakeOrderedAndProject (never a global sort of the vocab);
      // ranking and the OLS fit run over those 100 rows only.
      (s, d) => {
        val top = spread(t(s, d, "documents"))
          .select(explode(expr(s"split($sparkNorm, ' ')")).as("tok"))
          .filter(col("tok") =!= "")
          .groupBy("tok").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("tok").asc)
          .limit(100)
        top
          .withColumn("rank",
            row_number().over(Window.orderBy(col("cnt").desc, col("tok").asc)))
          .agg(count(lit(1)).as("n_terms"),
            round(expr("regr_slope(ln(cnt), ln(rank))"), 4).as("zipf_slope"),
            round(expr("regr_r2(ln(cnt), ln(rank))"), 4).as("r2"))
      },
      Some(s"""WITH vocab AS (
                SELECT tok, count(*) AS cnt
                FROM (SELECT unnest(string_split($duckNorm, ' ')) AS tok
                      FROM documents)
                WHERE tok != '' GROUP BY 1),
              top AS (
                SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rank
                FROM vocab ORDER BY cnt DESC, tok LIMIT 100)
              SELECT count(*) AS n_terms,
                round(regr_slope(ln(cnt), ln(rank)), 4) AS zipf_slope,
                round(regr_r2(ln(cnt), ln(rank)), 4) AS r2
              FROM top""")),

    Q("x_tfidf_cosine_pairs",
      // Pairwise document cosine similarity over tf-idf vectors via an
      // INVERTED-INDEX join — the sparse-vector member of the dedup
      // family (x_ngram_jaccard is set-overlap, v_cosine_neardup is
      // dense-embedding; this is the classic bag-of-words geometry).
      // The vector space is the mid-frequency vocabulary (2 <= df <=
      // 50): ubiquitous terms would make every pair collide (and their
      // posting lists are the quadratic blowup at scale — the df cap IS
      // the scale guarantee, same principle as x_ngram_jaccard), while
      // df=1 terms join nothing. Weights are tf * ln(N/df) with N a
      // 1-row aggregate cross-joined in-plan (no driver round-trip);
      // pairs form only through shared posting-list entries, then one
      // groupBy dot product + broadcast norm joins. Top-20 pairs,
      // ordered by the ROUNDED cosine so last-ulp float noise cannot
      // flip the selection on either engine.
      (s, d) => {
        val tf = spread(t(s, d, "documents"))
          .select(col("doc_id"), explode(expr(s"split($sparkNorm, ' ')")).as("tok"))
          .filter(col("tok") =!= "")
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val nDocs = t(s, d, "documents").agg(count(lit(1)).as("n_docs"))
        val vocab = tf.groupBy("tok").agg(count(lit(1)).as("df"))
          .filter(col("df") >= 2 && col("df") <= 50)
        val wgt = tf.join(vocab, Seq("tok"))
          .crossJoin(broadcast(nDocs))
          .select(col("doc_id"), col("tok"),
            (col("tf") * expr("ln(n_docs / df)")).as("w"))
        val norms = wgt.groupBy("doc_id")
          .agg(expr("sqrt(sum(w * w))").as("nrm"))
        val a = wgt.select(col("doc_id").as("doc_a"), col("tok"), col("w").as("wa"))
          .hint("merge")
        val b = wgt.select(col("doc_id").as("doc_b"), col("tok"), col("w").as("wb"))
          .hint("merge")
        a.join(b, Seq("tok"))
          .filter(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b")
          .agg(sum(col("wa") * col("wb")).as("dot"))
          .join(broadcast(norms.select(col("doc_id").as("doc_a"), col("nrm").as("na"))),
            Seq("doc_a"))
          .join(broadcast(norms.select(col("doc_id").as("doc_b"), col("nrm").as("nb"))),
            Seq("doc_b"))
          .select(col("doc_a"), col("doc_b"),
            round(col("dot") / (col("na") * col("nb")), 4).as("cosine"))
          .orderBy(col("cosine").desc, col("doc_a").asc, col("doc_b").asc)
          .limit(20)
      },
      Some(s"""WITH tf AS (
                SELECT doc_id, tok, count(*) AS tf
                FROM (SELECT doc_id, unnest(string_split($duckNorm, ' ')) AS tok
                      FROM documents)
                WHERE tok != '' GROUP BY 1, 2),
              vocab AS (
                SELECT tok, count(*) AS df FROM tf
                GROUP BY 1 HAVING count(*) BETWEEN 2 AND 50),
              n AS (SELECT count(*) AS n_docs FROM documents),
              wgt AS (
                SELECT doc_id, tok, tf * ln(n_docs / df) AS w
                FROM tf JOIN vocab USING (tok), n),
              norms AS (
                SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM wgt GROUP BY 1),
              dots AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w * b.w) AS dot
                FROM wgt a JOIN wgt b ON a.tok = b.tok AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
              SELECT doc_a, doc_b,
                round(dot / (na.nrm * nb.nrm), 4) AS cosine
              FROM dots
                JOIN norms na ON na.doc_id = doc_a
                JOIN norms nb ON nb.doc_id = doc_b
              ORDER BY cosine DESC, doc_a, doc_b LIMIT 20""")),

    Q("x_cms_estimate",
      // Count-min sketch — the fixed-memory frequency table a streaming
      // / multi-pass pipeline keeps when the true vocabulary doesn't
      // fit: d=4 hash rows x w=256 counters; every token occurrence
      // increments one counter per row (md5-derived bucket, identical
      // hex on both engines), a point estimate reads the MIN of its 4
      // counters — never an undercount, overcounts only from bucket
      // collisions. The sketch build is the d-fold explode +
      // partial-aggregated groupBy onto a d*w-bounded key (map-side
      // combine does almost all the work — the exchange carries at most
      // 1024 rows per partition regardless of corpus size); estimates
      // for the top-20 true tokens then audit the sketch against the
      // exact counts, integer-exact on both engines.
      (s, d) => {
        val bucketOf = (src: String) =>
          s"CAST(conv(substring(md5(concat($src, '#', seed)), 1, 4), 16, 10) AS INT) % 256"
        val toks = spread(t(s, d, "documents"))
          .select(explode(expr(s"split($sparkNorm, ' ')")).as("tok"))
          .filter(col("tok") =!= "")
        val sketch = toks
          .select(col("tok"), explode(expr("sequence(0, 3)")).as("seed"))
          .withColumn("bucket", expr(bucketOf("tok")))
          .groupBy("seed", "bucket").agg(count(lit(1)).as("cnt"))
        val top = toks.groupBy("tok").agg(count(lit(1)).as("true_cnt"))
          .orderBy(col("true_cnt").desc, col("tok").asc).limit(20)
        top
          .select(col("tok"), col("true_cnt"),
            explode(expr("sequence(0, 3)")).as("seed"))
          .withColumn("bucket", expr(bucketOf("tok")))
          .join(broadcast(sketch), Seq("seed", "bucket"))
          .groupBy("tok", "true_cnt")
          .agg(min("cnt").as("est_cnt"))
          .select(col("tok"), col("true_cnt"), col("est_cnt"),
            (col("est_cnt") - col("true_cnt")).as("overcount"))
          .orderBy("tok")
      },
      Some {
        // DuckDB has no base-16 conv: rebuild the 16-bit value nibble
        // by nibble (same technique as the x_shard_pack oracle).
        val nib = (i: Int) => s"(strpos('0123456789abcdef', substring(h, $i, 1)) - 1)"
        val bucket = s"CAST((${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)}) % 256 AS INT)"
        s"""WITH toks AS (
              SELECT tok FROM (
                SELECT unnest(string_split($duckNorm, ' ')) AS tok FROM documents)
              WHERE tok != ''),
            keyed AS (
              SELECT seed, $bucket AS bucket FROM (
                SELECT CAST(i AS INT) AS seed,
                  md5(tok || '#' || CAST(i AS VARCHAR)) AS h
                FROM toks, UNNEST(range(0, 4)) AS u(i))),
            sketch AS (SELECT seed, bucket, count(*) AS cnt
                       FROM keyed GROUP BY 1, 2),
            top AS (SELECT tok, count(*) AS true_cnt FROM toks
                    GROUP BY 1 ORDER BY true_cnt DESC, tok LIMIT 20),
            probed AS (
              SELECT tok, true_cnt, seed, $bucket AS bucket FROM (
                SELECT tok, true_cnt, CAST(i AS INT) AS seed,
                  md5(tok || '#' || CAST(i AS VARCHAR)) AS h
                FROM top, UNNEST(range(0, 4)) AS u(i)))
            SELECT tok, CAST(true_cnt AS BIGINT) AS true_cnt,
              CAST(min(cnt) AS BIGINT) AS est_cnt,
              CAST(min(cnt) - true_cnt AS BIGINT) AS overcount
            FROM probed JOIN sketch USING (seed, bucket)
            GROUP BY tok, true_cnt ORDER BY tok"""
      }),

    Q("x_mixture_temperature",
      // Temperature-scaled source weighting (alpha = 0.5), the standard
      // rebalancing step multilingual / multi-source training mixes run
      // before sampling: raw source shares w_s ~ n_s get flattened to
      // w_s ~ n_s^alpha so small sources are upsampled relative to
      // their raw mass. Parity is integer-exact: sqrt is an IEEE
      // correctly-rounded op (identical doubles on both engines, unlike
      // ln/pow), each source's weight floors ONCE to a micro-int
      // (w_e6), and every share/boost after that is pure BIGINT
      // arithmetic — the normalizing denominator is a sum of INTEGERS,
      // so aggregation order cannot move a ulp. (1e6 * w_e6 stays in
      // BIGINT up to ~8.5e12 w_e6 ~ 7e25 corpus tokens.)
      // Scale shape: one map-side-combinable per-source aggregate; the
      // unpartitioned windows run over THAT frame (<= #sources rows,
      // never the corpus), so the single-partition exchange is a
      // constant-size reduction at any data size.
      (s, d) => {
        val per = t(s, d, "documents")
          .withColumn("ntok", expr(s"size(split($sparkNorm, ' '))").cast("long"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"))
        val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        per
          .withColumn("w_e6",
            floor(sqrt(col("n_tokens").cast("double")) * lit(1000000) + lit(0.5))
              .cast("long"))
          .withColumn("tot_tok", sum("n_tokens").over(w))
          .withColumn("tot_w", sum("w_e6").over(w))
          .withColumn("raw_ppm", expr("(1000000 * n_tokens) div tot_tok"))
          .withColumn("temp_ppm", expr("(1000000 * w_e6) div tot_w"))
          .withColumn("boost_ppm", expr("(1000000 * temp_ppm) div raw_ppm"))
          .select("source", "n_docs", "n_tokens", "w_e6",
            "raw_ppm", "temp_ppm", "boost_ppm")
          .orderBy("source")
      },
      Some(s"""WITH per AS (
                SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(ntok) AS BIGINT) AS n_tokens
                FROM (SELECT source,
                        CAST(len(string_split($duckNorm, ' ')) AS BIGINT) AS ntok
                      FROM documents)
                GROUP BY source),
              wtd AS (
                SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5)
                    AS BIGINT) AS w_e6
                FROM per),
              tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tok,
                             CAST(sum(w_e6) AS BIGINT) AS tot_w FROM wtd)
              SELECT source, n_docs, n_tokens, w_e6,
                CAST((1000000 * n_tokens) // tot_tok AS BIGINT) AS raw_ppm,
                CAST((1000000 * w_e6) // tot_w AS BIGINT) AS temp_ppm,
                CAST((1000000 * ((1000000 * w_e6) // tot_w))
                  // ((1000000 * n_tokens) // tot_tok) AS BIGINT) AS boost_ppm
              FROM wtd CROSS JOIN tot ORDER BY source""")),

    Q("x_bm25_topk",
      // BM25-style lexical retrieval for a fixed 3-term query: the
      // classic tf-saturation * idf ranking (Robertson k1 = 1.2,
      // b = 0.75 length normalization) that hybrid search runs next to
      // the vector path. Engine parity without trusting libm: ln-idf is
      // replaced by its rational core (N - df + 0.5) / (df + 0.5) —
      // monotone in the classic idf, so per-term ordering is preserved
      // — and the WHOLE score is then a fixed tree of IEEE
      // exact-rounded ops (+ - * /) evaluated from the SAME expression
      // text on both engines, so the unrounded doubles are
      // bit-identical (the same discipline as x_tfidf_topk, extended
      // from integers to a fixed float expression). Scale shape: the
      // tf explode filters to the query terms BEFORE aggregating (the
      // shuffle carries only query-term hits); doc-length stats and the
      // 3 dfs fold in-plan as 1-row broadcast cross joins (no driver
      // scalar fetch); the top-10 is TakeOrderedAndProject — the only
      // window runs over the 10 surviving rows.
      (s, d) => {
        val dd = spread(t(s, d, "documents"))
          .select(col("doc_id"), expr(s"split($sparkNorm, ' ')").as("toks"))
        val base = dd.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
        val tf = dd.select(col("doc_id"), explode(col("toks")).as("tok"))
          .filter(col("tok").isin(Bm25Terms: _*))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val piv = base.join(tf, Seq("doc_id"), "left")
          .groupBy("doc_id", "dl")
          .agg(
            coalesce(max(when(col("tok") === Bm25Terms(0), col("tf"))), lit(0L)).as("tf1"),
            coalesce(max(when(col("tok") === Bm25Terms(1), col("tf"))), lit(0L)).as("tf2"),
            coalesce(max(when(col("tok") === Bm25Terms(2), col("tf"))), lit(0L)).as("tf3"))
        val stats = base.agg(count(lit(1)).as("n"), sum("dl").as("sum_dl"))
          .select(col("n"), expr("CAST(sum_dl AS DOUBLE) / n").as("avgdl"))
        val dfs = tf.groupBy("tok").agg(count(lit(1)).as("df"))
          .agg(
            coalesce(max(when(col("tok") === Bm25Terms(0), col("df"))), lit(0L)).as("df1"),
            coalesce(max(when(col("tok") === Bm25Terms(1), col("df"))), lit(0L)).as("df2"),
            coalesce(max(when(col("tok") === Bm25Terms(2), col("df"))), lit(0L)).as("df3"))
        piv.crossJoin(broadcast(stats)).crossJoin(broadcast(dfs))
          .withColumn("score", expr(Bm25Score))
          .orderBy(round(col("score"), 4).desc, col("doc_id").asc)
          .limit(10)
          .withColumn("rn", row_number().over(
            Window.orderBy(round(col("score"), 4).desc, col("doc_id").asc)))
          .select(col("rn"), col("doc_id"), col("dl"),
            col("tf1").as("tf_spark"), col("tf2").as("tf_query"),
            col("tf3").as("tf_vector"),
            round(col("score"), 4).as("bm25"))
          .orderBy("rn")
      },
      Some(s"""WITH dd AS (
                SELECT doc_id, string_split($duckNorm, ' ') AS toks FROM documents),
              base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM dd),
              tf AS (
                SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
                FROM (SELECT doc_id, unnest(toks) AS tok FROM dd)
                WHERE tok IN ('${Bm25Terms(0)}', '${Bm25Terms(1)}', '${Bm25Terms(2)}')
                GROUP BY 1, 2),
              piv AS (
                SELECT b.doc_id, b.dl,
                  CAST(coalesce(max(CASE WHEN tok = '${Bm25Terms(0)}' THEN tf END), 0) AS BIGINT) AS tf1,
                  CAST(coalesce(max(CASE WHEN tok = '${Bm25Terms(1)}' THEN tf END), 0) AS BIGINT) AS tf2,
                  CAST(coalesce(max(CASE WHEN tok = '${Bm25Terms(2)}' THEN tf END), 0) AS BIGINT) AS tf3
                FROM base b LEFT JOIN tf ON b.doc_id = tf.doc_id
                GROUP BY 1, 2),
              stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
                               CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS BIGINT) AS avgdl
                        FROM base),
              dfs AS (
                SELECT
                  CAST(coalesce(max(CASE WHEN tok = '${Bm25Terms(0)}' THEN df END), 0) AS BIGINT) AS df1,
                  CAST(coalesce(max(CASE WHEN tok = '${Bm25Terms(1)}' THEN df END), 0) AS BIGINT) AS df2,
                  CAST(coalesce(max(CASE WHEN tok = '${Bm25Terms(2)}' THEN df END), 0) AS BIGINT) AS df3
                FROM (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1)),
              scored AS (
                SELECT doc_id, dl, tf1, tf2, tf3, $Bm25Score AS score
                FROM piv CROSS JOIN stats CROSS JOIN dfs)
              SELECT rn, doc_id, dl, tf1 AS tf_spark, tf2 AS tf_query,
                tf3 AS tf_vector, round(score, 4) AS bm25
              FROM (SELECT *, row_number() OVER (
                      ORDER BY round(score, 4) DESC, doc_id) AS rn
                    FROM scored)
              WHERE rn <= 10 ORDER BY rn""")),

    Q("x_ngram_novelty",
      // Per-document n-gram novelty: the fraction of a doc's distinct
      // word trigrams whose FIRST corpus occurrence (min doc_id) is
      // this doc — the "how much new text does this doc add"
      // curation signal (the streaming-order cousin of dedup: a doc of
      // entirely already-seen trigrams is a rephrase/copy even when no
      // single near-dup pair fires). Integer-exact: counts and a ppm
      // integer division, nothing else. Scale shape: one distinct
      // (doc, trigram) shuffle (Curation.tokenTrigrams, the
      // decontamination unit), one trigram-keyed min-aggregate (the
      // first-occurrence table), one trigram-keyed join back — all
      // linear in corpus trigrams, never doc x doc.
      (s, d) => {
        val sh = graft.operators.Curation.tokenTrigrams(
          spread(t(s, d, "documents")))
        val first = sh.groupBy("sg").agg(min("doc_id").as("first_doc"))
        sh.join(first, Seq("sg"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("first_doc") === col("doc_id"), lit(1L))
              .otherwise(lit(0L))).as("n_novel"))
          .withColumn("novelty_ppm", expr("(1000000 * n_novel) div n_shingles"))
          .orderBy("doc_id")
      },
      Some(s"""WITH sh AS (
                SELECT DISTINCT doc_id, sg FROM (
                  SELECT doc_id,
                    unnest(list_transform(range(1, len(toks) - 1),
                      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS sg
                  FROM (SELECT doc_id, string_split($duckNorm, ' ') AS toks
                        FROM documents)
                  WHERE len(toks) > 2)),
              fo AS (SELECT sg, min(doc_id) AS first_doc FROM sh GROUP BY 1)
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
                CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_novel,
                CAST((1000000 * sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END))
                  // count(*) AS BIGINT) AS novelty_ppm
              FROM sh JOIN fo USING (sg)
              GROUP BY doc_id ORDER BY doc_id""")),

    Q("x_dsir_weight",
      // DSIR-style importance weighting (Xie et al.: resample raw data
      // toward a target domain by hashed-n-gram likelihood ratios),
      // restated integer-exact: src0 is the target domain, every other
      // doc scores sum over its distinct word bigrams of the
      // Laplace-smoothed document-frequency ratio
      // (1e6 * (tgt_df + 1)) div (raw_df + 1) — the monotone integer
      // surrogate of the log-ratio (per-bigram, the classic
      // log(p_tgt/p_raw) ranks identically; summing the micro-int
      // ratios instead of logs trades the product form for an
      // aggregation no partition order or libm can move). Top-20
      // target-most docs = the resampling head. Scale shape: one
      // distinct bigram explode, one bigram-keyed df aggregate, one
      // bigram-keyed join back, TakeOrderedAndProject top-20.
      (s, d) => {
        val bg = graft.operators.Curation.tokenNGrams(
          spread(t(s, d, "documents")), n = 2)
        val keyed = bg.join(
          t(s, d, "documents").select("doc_id", "source"), Seq("doc_id"))
        val stats = keyed.groupBy("sg").agg(
          count(lit(1)).as("raw_df"),
          sum(when(col("source") === "src0", lit(1L)).otherwise(lit(0L)))
            .as("tgt_df"))
        keyed.filter(col("source") =!= "src0")
          .join(stats, Seq("sg"))
          .withColumn("w_e6", expr("(1000000 * (tgt_df + 1)) div (raw_df + 1)"))
          .groupBy("doc_id", "source")
          .agg(count(lit(1)).as("n_bigrams"), sum("w_e6").as("importance_e6"))
          .orderBy(col("importance_e6").desc, col("doc_id").asc)
          .limit(20)
          .withColumn("rn", row_number().over(
            Window.orderBy(col("importance_e6").desc, col("doc_id").asc)))
          .select("rn", "doc_id", "source", "n_bigrams", "importance_e6")
          .orderBy("rn")
      },
      Some(s"""WITH bg AS (
                SELECT DISTINCT doc_id, sg FROM (
                  SELECT doc_id,
                    unnest(list_transform(range(1, len(toks)),
                      i -> toks[i] || ' ' || toks[i + 1])) AS sg
                  FROM (SELECT doc_id, string_split($duckNorm, ' ') AS toks
                        FROM documents)
                  WHERE len(toks) > 1)),
              keyed AS (
                SELECT bg.doc_id, bg.sg, d.source
                FROM bg JOIN documents d USING (doc_id)),
              stats AS (
                SELECT sg, CAST(count(*) AS BIGINT) AS raw_df,
                  CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT)
                    AS tgt_df
                FROM keyed GROUP BY 1),
              scored AS (
                SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_bigrams,
                  CAST(sum((1000000 * (tgt_df + 1)) // (raw_df + 1)) AS BIGINT)
                    AS importance_e6
                FROM keyed JOIN stats USING (sg)
                WHERE source <> 'src0' GROUP BY 1, 2)
              SELECT rn, doc_id, source, n_bigrams, importance_e6
              FROM (SELECT *, row_number() OVER (
                      ORDER BY importance_e6 DESC, doc_id) AS rn
                    FROM scored)
              WHERE rn <= 20 ORDER BY rn""")),

    Q("x_dup_ngram_frac",
      // RefinedWeb/Gopher-style corpus DUPLICATION metric: per source,
      // the fraction of 5-gram OCCURRENCES whose gram also appears in
      // at least one other document corpus-wide — the number a curation
      // run reads to decide whether (sub-document) dedup is worth a
      // pass, and the before/after score that proves the pass worked.
      // Scale shape: one explode, one gram-keyed aggregate, one
      // gram-keyed join back (co-partitioned with the aggregate — no
      // extra exchange), one tiny per-source rollup. ppm by integer div.
      (s, d) => {
        val occ = spread(t(s, d, "documents"))
          .withColumn("__toks", expr(s"split($sparkNorm, ' ')"))
          .filter(expr("size(__toks) >= 5"))
          .select(col("doc_id"), col("source"), explode(expr(
            """transform(sequence(1, size(__toks) - 4),
               i -> concat_ws(' ', slice(__toks, i, 5)))""")).as("sg"))
        val grams = occ.groupBy("sg")
          .agg(countDistinct("doc_id").as("n_docs"))
        occ.join(grams, Seq("sg"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_occurrences"),
            sum(when(col("n_docs") >= 2, 1L).otherwise(0L))
              .as("n_dup_occurrences"))
          .withColumn("dup_ppm",
            expr("(1000000 * n_dup_occurrences) div n_occurrences"))
          .orderBy("source")
      },
      Some(s"""WITH occ AS (
                SELECT doc_id, source,
                  unnest(list_transform(range(1, len(toks) - 3),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                      || ' ' || toks[i+3] || ' ' || toks[i+4])) AS sg
                FROM (SELECT doc_id, source, string_split($duckNorm, ' ') AS toks
                      FROM documents)
                WHERE len(toks) >= 5),
              grams AS (
                SELECT sg, count(DISTINCT doc_id) AS n_docs
                FROM occ GROUP BY 1)
              SELECT source, CAST(count(*) AS BIGINT) AS n_occurrences,
                CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_dup_occurrences,
                CAST((1000000 * sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END))
                  // count(*) AS BIGINT) AS dup_ppm
              FROM occ JOIN grams USING (sg)
              GROUP BY source ORDER BY source""")),

    Q("x_unimax_budget",
      // UniMax budget allocation (Chung et al. 2023): split a total
      // token budget across sources as UNIFORMLY as possible subject to
      // a per-source cap of `epochs` passes over its data — the
      // published fix for temperature sampling's tail-overexposure
      // (small sources stop at the epoch cap instead of being
      // oversampled). Waterfilling closed form: with caps sorted
      // ascending, theta solves sum(min(cap_i, theta)) = B; source i
      // gets min(cap_i, theta). k (the number of capped sources) is the
      // unique candidate where cap_k <= theta_k < cap_{k+1} with
      // theta_k = (B - prefix_caps_k) div (n - k). EVERYTHING is
      // integer arithmetic on nonneg operands (engine-safe), and every
      // window runs over the per-SOURCE frame — bounded by the source
      // count, never the corpus; the single corpus-sized stage is the
      // per-source token sum. Budget = half the corpus, cap = 2 epochs.
      (s, d) => {
        val perSrc = spread(t(s, d, "documents"))
          .groupBy("source")
          .agg(sum(expr(s"size(split($sparkNorm, ' '))")).as("tokens_s"))
          .withColumn("cap", expr("2 * tokens_s"))
        val wOrd = Window.orderBy(col("cap").asc, col("source").asc)
        val ranked = perSrc
          .withColumn("i", row_number().over(wOrd))
          .withColumn("s_caps", sum("cap").over(
            wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .crossJoin(broadcast(perSrc.agg(
            expr("sum(tokens_s) div 2").as("b"),
            count(lit(1)).as("n"))))
        // candidate k = i - 1 capped sources; valid iff cap_{i-1} fits
        // under theta_k and cap_i does not. Integer-div wobble can make
        // two adjacent candidates pass, so the DEFINED semantics is the
        // smallest valid theta (min is the same deterministic pick on
        // both engines); with no candidate every source is capped — the
        // fallback row (max cap) allocates cap to all, and since any
        // candidate theta is < its own cap <= max cap, min() never
        // prefers the fallback when a candidate exists. theta stays
        // nonnegative wherever the filter can pass (prev_s <= b there),
        // keeping the div on nonneg operands — the engine-safe regime.
        val cand = ranked
          .withColumn("prev_cap", lag("cap", 1, 0L).over(wOrd))
          .withColumn("prev_s", lag("s_caps", 1, 0L).over(wOrd))
          .withColumn("theta", expr("(b - prev_s) div (n - i + 1)"))
          .filter(col("prev_cap") <= col("theta") && col("cap") > col("theta"))
          .select(col("theta"))
        val thetaFrame = cand
          .unionByName(perSrc.agg(max("cap").as("theta"))) // all-capped fallback
          .agg(min("theta").as("theta"))
        ranked.crossJoin(broadcast(thetaFrame))
          .select(col("source"), col("tokens_s"), col("cap"),
            least(col("cap"), col("theta")).as("alloc_tokens"))
          .withColumn("epochs_e4",
            expr("(10000 * alloc_tokens) div tokens_s"))
          .orderBy("source")
      },
      Some(s"""WITH per_src AS (
                SELECT source,
                  CAST(sum(len(string_split($duckNorm, ' '))) AS BIGINT)
                    AS tokens_s,
                  CAST(2 * sum(len(string_split($duckNorm, ' '))) AS BIGINT)
                    AS cap
                FROM documents GROUP BY source),
              tot AS (SELECT CAST(sum(tokens_s) // 2 AS BIGINT) AS b,
                        count(*) AS n FROM per_src),
              ranked AS (
                SELECT *, row_number() OVER (ORDER BY cap, source) AS i,
                  sum(cap) OVER (ORDER BY cap, source
                    ROWS UNBOUNDED PRECEDING) AS s_caps
                FROM per_src),
              cand AS (
                SELECT CAST((b - prev_s) // (n - i + 1) AS BIGINT) AS theta
                FROM (SELECT r.*, tot.b, tot.n,
                        lag(cap, 1, 0) OVER (ORDER BY cap, source) AS prev_cap,
                        lag(s_caps, 1, 0) OVER (ORDER BY cap, source) AS prev_s
                      FROM ranked r, tot)
                WHERE prev_cap <= (b - prev_s) // (n - i + 1)
                  AND cap > (b - prev_s) // (n - i + 1)),
              theta AS (
                SELECT COALESCE((SELECT min(theta) FROM cand),
                  (SELECT max(cap) FROM per_src)) AS theta)
              SELECT source, tokens_s, cap,
                CAST(least(cap, theta) AS BIGINT) AS alloc_tokens,
                CAST((10000 * least(cap, theta)) // tokens_s AS BIGINT)
                  AS epochs_e4
              FROM per_src, theta
              ORDER BY source""")),

    Q("x_suffix_spans",
      // Exact repeated-substring spans via distributed PREFIX DOUBLING
      // (the suffix-array construction discipline, equality-only) — the
      // collision-free twin of `x_repeated_spans`: that query trusts
      // xxhash64 not to collide on 8-gram keys; this one builds
      // canonical context ids (min global position per equal-context
      // group) and doubles them 1->2->4->8, so two positions share an
      // id iff their 8-token contexts are LITERALLY equal. Same span
      // semantics, same oracle (the DuckDB side groups actual gram
      // strings, i.e. it was always exact) — so a green row here plus a
      // green x_repeated_spans row is a machine-checked proof that the
      // fingerprint path had zero collisions on this corpus. Scale
      // shape: log2(K)=3 doubling rounds, each one self-join plus one
      // map-side-combinable groupBy+join on uniformly-minted 8-byte
      // ids; no global sort anywhere (dedup needs equality, not suffix
      // ORDER — see operators/SuffixDedup.scala).
      (s, d) => {
        val toks = graft.operators.SuffixDedup.tokenTable(
          spread(t(s, d, "documents")), sparkNorm)
        val ids8 = graft.operators.SuffixDedup.contextIdLadder(toks, 8).last._2
        graft.operators.SuffixDedup.repeatedSpans(ids8, 8)
          .select(col("doc_id"), col("span_start"), col("span_end"),
            (col("span_end") - col("span_start") + 1).as("span_toks"))
          .orderBy("doc_id", "span_start")
      },
      Some(s"""WITH $duckSpansCte
              SELECT doc_id, span_start, span_end,
                span_end - span_start + 1 AS span_toks
              FROM spans
              ORDER BY doc_id, span_start""")),

    Q("x_suffix_maxrep",
      // Longest-exact-repeat tier per document, from the SAME doubling
      // ladder continued to 32: the doc-level audit a dedup pass wants
      // before choosing its threshold ("how much of the corpus repeats
      // at >= 8 / >= 16 / >= 32 tokens?"). n_rep8 counts positions
      // whose full 8-token context repeats corpus-wide; max_tier is the
      // largest k in {8,16,32} with any such position (0 = none). Each
      // extra tier costs exactly one more doubling round over the same
      // token table — the suffix-array ladder amortises what the
      // fingerprint approach would re-shingle per K. Oracle groups
      // actual k-gram strings per tier, fully independent of the
      // doubling construction.
      (s, d) => {
        val sd = graft.operators.SuffixDedup
        val toks = sd.tokenTable(spread(t(s, d, "documents")), sparkNorm)
        val ladder = sd.contextIdLadder(toks, 32).toMap
        def docHits(k: Int) = sd.repeatedStarts(ladder(k), k)
          .groupBy("doc_id").agg(count(lit(1)).as(s"n_rep$k"))
        t(s, d, "documents").select("doc_id")
          .join(docHits(8), Seq("doc_id"), "left")
          .join(docHits(16).withColumnRenamed("n_rep16", "t16"),
            Seq("doc_id"), "left")
          .join(docHits(32).withColumnRenamed("n_rep32", "t32"),
            Seq("doc_id"), "left")
          .withColumn("max_tier",
            when(col("t32").isNotNull, 32)
              .when(col("t16").isNotNull, 16)
              .when(col("n_rep8").isNotNull, 8).otherwise(0))
          .select(col("doc_id"),
            coalesce(col("n_rep8"), lit(0L)).as("n_rep8"), col("max_tier"))
          .orderBy("doc_id")
      },
      Some {
        def gk(k: Int) =
          s"""g$k AS MATERIALIZED (
                SELECT doc_id, array_to_string(list_slice(a,
                  CAST(i + 1 AS INT), CAST(i + $k AS INT)), ' ') AS g
                FROM toks, UNNEST(range(0, len(a) - ${k - 1})) AS t(i)
                WHERE len(a) >= $k),
              d$k AS (SELECT g FROM g$k GROUP BY g HAVING count(*) >= 2)"""
        s"""WITH toks AS (
              SELECT doc_id, string_split($duckNorm, ' ') AS a FROM documents),
            ${gk(8)},
            m8 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_rep8
                   FROM g8 WHERE g IN (SELECT g FROM d8) GROUP BY doc_id),
            ${gk(16)},
            m16 AS (SELECT DISTINCT doc_id FROM g16
                    WHERE g IN (SELECT g FROM d16)),
            ${gk(32)},
            m32 AS (SELECT DISTINCT doc_id FROM g32
                    WHERE g IN (SELECT g FROM d32))
            SELECT d.doc_id,
              CAST(coalesce(m8.n_rep8, 0) AS BIGINT) AS n_rep8,
              CAST(CASE WHEN m32.doc_id IS NOT NULL THEN 32
                        WHEN m16.doc_id IS NOT NULL THEN 16
                        WHEN m8.doc_id IS NOT NULL THEN 8
                        ELSE 0 END AS INT) AS max_tier
            FROM (SELECT doc_id FROM documents) d
              LEFT JOIN m8 ON d.doc_id = m8.doc_id
              LEFT JOIN m16 ON d.doc_id = m16.doc_id
              LEFT JOIN m32 ON d.doc_id = m32.doc_id
            ORDER BY d.doc_id"""
      }),

    Q("x_unigram_train",
      // Unigram-LM (SentencePiece, Kudo 2018) tokenizer TRAINING — the
      // EM complement of x_bpe_train's merge learning: seed a piece
      // vocabulary (all single chars + top-48 weighted substrings up to
      // 4 chars), Viterbi-segment the frequency-weighted DISTINCT-word
      // table against broadcast dyadic-integer piece costs (E-step,
      // row-local `aggregate` folds — no joins in the DP), count
      // on-an-optimal-path piece usage (M-step, one grouped sum), prune
      // unused multis, re-derive costs, run a second round. Output: the
      // surviving vocabulary with seed counts and per-round usage. All
      // arithmetic is integer (floor-log2 via length(bin(x)) - 1, the
      // composite cost*32+pieces Viterbi objective — see
      // operators/UnigramLM.scala for why that makes a float-free,
      // tie-invariant oracle possible). The DuckDB twin runs the same
      // DP as a generated chain of per-position CTEs — independent
      // formulation, identical integers.
      (s, d) => {
        val ug = graft.operators.UnigramLM
        val words = ug.wordTable(
          ug.wordsPerDoc(spread(t(s, d, "documents")), sparkNorm)).cutLineage()
        val occ = ug.occurrences(words).cutLineage()
        val v0 = ug.initVocab(occ).cutLineage()
        val u1 = ug.usage(ug.viterbi(occ, ug.scored(v0))).cutLineage()
        val v1 = ug.nextVocab(v0, u1).cutLineage()
        val u2 = ug.usage(ug.viterbi(occ, ug.scored(v1)))
        v1.select("piece", "plen")
          .join(v0.withColumnRenamed("cnt", "cnt0"), Seq("piece", "plen"))
          .join(u1.withColumnRenamed("use", "use1"), Seq("piece", "plen"), "left")
          .join(u2.withColumnRenamed("use", "use2"), Seq("piece", "plen"), "left")
          .select(col("piece"), col("plen"), col("cnt0"),
            coalesce(col("use1"), lit(0L)).as("use1"),
            coalesce(col("use2"), lit(0L)).as("use2"))
          .orderBy("piece")
      },
      Some(s"""WITH $duckUnigramCtes
              SELECT v1.piece, v1.plen, v0.cnt AS cnt0,
                CAST(coalesce(u1.use1, 0) AS BIGINT) AS use1,
                CAST(coalesce(u2.use2, 0) AS BIGINT) AS use2
              FROM v1
                JOIN v0 ON v0.piece = v1.piece AND v0.plen = v1.plen
                LEFT JOIN u1 ON u1.piece = v1.piece AND u1.plen = v1.plen
                LEFT JOIN u2 ON u2.piece = v1.piece AND u2.plen = v1.plen
              ORDER BY v1.piece""")),

    Q("x_unigram_encode",
      // The unigram tokenizer's ENCODE half over the full corpus: every
      // word occurrence joins the per-distinct-word Viterbi token count
      // (under round-1 and round-2 costs) and rolls up per doc — the
      // operation a training pipeline runs at 100 TB, with the same
      // scale shape as x_bpe_encode: EM is vocabulary-bounded, the
      // corpus pays exactly one word-keyed hash join + one per-doc
      // aggregate. n_tok falls out of the composite Viterbi objective
      // as total % 32 (the piece count of the minimal-cost,
      // fewest-pieces segmentation — deterministic even under cost
      // ties), so round-2's vocabulary pruning is visible as n_tok2
      // drifting from n_tok1 where dropped pieces forced
      // resegmentation.
      (s, d) => {
        val ug = graft.operators.UnigramLM
        val wpd = ug.wordsPerDoc(spread(t(s, d, "documents")), sparkNorm)
          .cutLineage()
        val words = ug.wordTable(wpd).cutLineage()
        val occ = ug.occurrences(words).cutLineage()
        val v0 = ug.initVocab(occ).cutLineage()
        val vit1 = ug.viterbi(occ, ug.scored(v0)).cutLineage()
        val v1 = ug.nextVocab(v0, ug.usage(vit1)).cutLineage()
        val vit2 = ug.viterbi(occ, ug.scored(v1))
        val enc = ug.tokenCounts(vit1).withColumnRenamed("n_tok", "n_tok1")
          .join(ug.tokenCounts(vit2).withColumnRenamed("n_tok", "n_tok2"),
            Seq("w"))
        wpd.join(enc, Seq("w"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"),
            sum(length(col("w"))).cast("long").as("n_chars_az"),
            sum("n_tok1").as("n_tok1"), sum("n_tok2").as("n_tok2"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $duckUnigramCtes
              SELECT wpd.doc_id, CAST(count(*) AS BIGINT) AS n_words,
                CAST(sum(length(wpd.w)) AS BIGINT) AS n_chars_az,
                CAST(sum(t1.v % 32) AS BIGINT) AS n_tok1,
                CAST(sum(t2.v % 32) AS BIGINT) AS n_tok2
              FROM wpd
                JOIN tot1 t1 ON t1.w = wpd.w
                JOIN tot2 t2 ON t2.w = wpd.w
              GROUP BY wpd.doc_id
              ORDER BY wpd.doc_id""")),

    Q("x_editdist_join",
      // Typo-tolerant similarity join over the corpus vocabulary —
      // FastSS deletion-neighborhood blocking + exact levenshtein
      // verify (operators/Dedup.editDistancePairs): every word pair
      // within edit distance 2, found through a bounded row-local
      // deletion fan-out and one equi-join — NEVER an all-pairs
      // comparison (the blocking-join discipline of the minhash/simhash
      // family, applied to edit distance). Both engines verify with
      // their native levenshtein, and the oracle builds its candidate
      // neighborhood independently — completeness of each blocking is
      // what makes the final sets identical, so a green row proves the
      // FastSS superset theorem held on this corpus. This is the
      // corpus-scale version of the reference's fuzzy entity-match
      // instinct (the J7 cascade), and the vocabulary-bounded join
      // groups are why it survives 100 TB: corpus growth fattens word
      // frequencies, not candidate groups.
      (s, d) => {
        val words = spread(t(s, d, "documents"))
          .withColumn("az",
            expr(s"regexp_replace($sparkNorm, '[^\\\\x00-\\\\x7f]', '')"))
          .select(explode(expr("regexp_extract_all(az, '[a-z]+', 0)")).as("w"))
          .distinct()
        graft.operators.Dedup.editDistancePairs(words)
          .orderBy("w_a", "w_b")
      },
      Some(s"""WITH words AS MATERIALIZED (
                SELECT DISTINCT unnest(regexp_extract_all(a, '[a-z]+')) AS w
                FROM (SELECT regexp_replace($duckNorm, '[^\\x00-\\x7f]', '', 'g') AS a
                      FROM documents)),
              vars AS MATERIALIZED (
                SELECT w, unnest(list_distinct(
                  [w]
                  || list_transform(range(1, length(w) + 1), i ->
                       substr(w, 1, i - 1) || substr(w, i + 1, length(w)))
                  || flatten(list_transform(range(1, length(w) + 1), i ->
                       CASE WHEN i < length(w)
                         THEN list_transform(range(i + 1, length(w) + 1), j ->
                           substr(w, 1, i - 1)
                             || substr(w, i + 1, j - i - 1)
                             || substr(w, j + 1, length(w)))
                         ELSE CAST([] AS VARCHAR[]) END)))) AS v
                FROM words),
              cand AS (
                SELECT DISTINCT a.w AS w_a, b.w AS w_b
                FROM vars a JOIN vars b ON a.v = b.v AND a.w < b.w)
              SELECT w_a, w_b, CAST(levenshtein(w_a, w_b) AS INT) AS dist
              FROM cand
              WHERE levenshtein(w_a, w_b) <= 2
              ORDER BY w_a, w_b""")),

    Q("x_hash_split",
      // Deterministic train/val/test assignment — the split every
      // training pipeline runs before anything else, done the only way
      // that survives a distributed, append-only corpus: the split is a
      // pure function of the document's identity (48-bit md5 bucket
      // mod 100 -> 90/5/5), NOT an RNG draw. Re-runs, retries,
      // repartitioning, and late-arriving shards cannot move a document
      // between splits, and a 1000-executor run needs zero coordination
      // (contrast randomSplit, whose assignment depends on partition
      // layout and seed plumbing). Row-local hash + one
      // map-side-combinable rollup; sum_doc_id is the membership
      // checksum — same counts with swapped members still breaks the
      // hash compare.
      (s, d) => {
        t(s, d, "documents")
          .withColumn("bucket", expr(s"$sparkDocH48 % 100"))
          .withColumn("split", expr(
            "CASE WHEN bucket < 90 THEN 'train' " +
              "WHEN bucket < 95 THEN 'val' ELSE 'test' END"))
          .groupBy("source", "split")
          .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_doc_id"))
          .orderBy("source", "split")
      },
      Some(s"""SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
               FROM (SELECT source, doc_id,
                       CASE WHEN $duckDocH48 % 100 < 90 THEN 'train'
                            WHEN $duckDocH48 % 100 < 95 THEN 'val'
                            ELSE 'test' END AS split
                     FROM documents)
               GROUP BY source, split ORDER BY source, split""")),

    Q("x_sample_allocation",
      // Stratified sampling with EXACT largest-remainder allocation
      // (Hamilton apportionment) — the fixed-BUDGET complement of
      // x_stratified_sample's fixed-RATE keep: a 200-row evaluation
      // sample spread over the (source, lang) strata proportionally —
      // floor quotas first, the shortfall topped up in descending
      // fractional-remainder order — so the draw always sums to exactly
      // 200 and every stratum's quota is within 1 of proportional,
      // integer-exact (the float-free apportionment a benchmark-set
      // builder needs to be reproducible). Within each stratum the
      // members are the alloc smallest 48-bit content hashes: the hash
      // IS the random number, so both engines and any re-run select
      // identical rows. Scale shape: the strata frame is
      // vocabulary-bounded (distinct source x lang), so its global
      // remainder-rank window sorts a few rows, never the corpus; the
      // per-stratum rank shares the stratum key (one shuffle) — at
      // fleet scale it becomes per-partition bottom-k pre-aggregation
      // (the KMV merge shape), since alloc <= 200 rows survive anyway.
      (s, d) => {
        val n = 200
        val docs = t(s, d, "documents").withColumn("h", expr(sparkDocH48))
        val strata = docs.groupBy("source", "lang")
          .agg(count(lit(1)).as("n_stratum"))
        val tot = broadcast(strata.agg(sum("n_stratum").as("__ntot")))
        val quota = strata.crossJoin(tot)
          .withColumn("base", expr(s"$n * n_stratum div __ntot"))
          .withColumn("rem", expr(s"($n * n_stratum) % __ntot"))
        val short = broadcast(quota.agg((lit(n.toLong) - sum("base")).as("__sh")))
        val wR = Window.orderBy(desc("rem"), col("source"), col("lang"))
        val alloc = quota.crossJoin(short)
          .withColumn("rrank", row_number().over(wR))
          .withColumn("alloc", col("base") +
            when(col("rrank") <= col("__sh"), 1L).otherwise(0L))
          .select("source", "lang", "n_stratum", "alloc")
        val wS = Window.partitionBy("source", "lang")
          .orderBy(col("h").asc, col("doc_id").asc)
        val sampled = docs.withColumn("rn", row_number().over(wS))
          .join(alloc.select("source", "lang", "alloc"), Seq("source", "lang"))
          .filter(col("rn") <= col("alloc"))
          .groupBy("source", "lang")
          .agg(count(lit(1)).as("n_sampled"),
            sum("doc_id").as("sum_sampled_ids"))
        alloc.join(sampled, Seq("source", "lang"), "left")
          .withColumn("n_sampled", coalesce(col("n_sampled"), lit(0L)))
          .withColumn("sum_sampled_ids",
            coalesce(col("sum_sampled_ids"), lit(0L)))
          .orderBy("source", "lang")
      },
      Some(s"""WITH docs AS MATERIALIZED (
                 SELECT source, lang, doc_id, $duckDocH48 AS h FROM documents),
               strata AS (
                 SELECT source, lang, CAST(count(*) AS BIGINT) AS n_stratum
                 FROM docs GROUP BY 1, 2),
               tot AS (SELECT CAST(sum(n_stratum) AS BIGINT) AS ntot
                       FROM strata),
               quota AS (
                 SELECT source, lang, n_stratum,
                   CAST(200 * n_stratum // ntot AS BIGINT) AS base,
                   CAST((200 * n_stratum) % ntot AS BIGINT) AS rem
                 FROM strata, tot),
               sh AS (SELECT 200 - CAST(sum(base) AS BIGINT) AS v FROM quota),
               alloc AS (
                 SELECT source, lang, n_stratum,
                   base + CASE WHEN row_number() OVER (
                       ORDER BY rem DESC, source, lang) <= sh.v
                     THEN 1 ELSE 0 END AS alloc
                 FROM quota, sh),
               ranked AS (
                 SELECT source, lang, doc_id, row_number() OVER (
                     PARTITION BY source, lang ORDER BY h, doc_id) AS rn
                 FROM docs),
               samp AS (
                 SELECT r.source, r.lang, CAST(count(*) AS BIGINT) AS n_sampled,
                   CAST(sum(r.doc_id) AS BIGINT) AS sum_sampled_ids
                 FROM ranked r JOIN alloc a
                   ON r.source = a.source AND r.lang = a.lang
                 WHERE r.rn <= a.alloc GROUP BY 1, 2)
               SELECT a.source, a.lang, a.n_stratum,
                 CAST(a.alloc AS BIGINT) AS alloc,
                 coalesce(s.n_sampled, 0) AS n_sampled,
                 coalesce(s.sum_sampled_ids, 0) AS sum_sampled_ids
               FROM alloc a LEFT JOIN samp s
                 ON a.source = s.source AND a.lang = s.lang
               ORDER BY a.source, a.lang""")),

    Q("x_good_turing",
      // Good-Turing frequency smoothing (Good 1953) over the corpus
      // unigram distribution — the estimator behind Katz backoff and
      // the classic answer to "how much probability mass belongs to
      // words we have never seen": r* = (r+1) * N_{r+1} / N_r with N_r
      // the count-of-counts, and the unseen mass P_0 = N_1 / T. Every
      // quantity is a ratio of BIGINTs published as integer ppm — no
      // floats anywhere, so the hash compare is exact. Only the r <= 10
      // head is published because that is where GT is used in practice
      // (Katz backs off to raw counts above a small k, where N_{r+1}
      // gets too sparse to trust). The unit is the word TRIGRAM — the
      // n-gram-LM granularity GT was built for, and the only one with
      // a real hapax tail on this corpus (the unigram vocabulary is a
      // closed 31-word set with min count 26: every N_{r<=10} is 0).
      // Scale shape: gram counts are one hash aggregation over the
      // corpus, counts-of-counts a second aggregation over the gram
      // vocabulary — both map-side combinable; N_1 and T fold in as
      // broadcast 1-row aggregates.
      (s, d) => {
        val words = spread(t(s, d, "documents"))
          .select(split(expr(sparkNorm), " ").as("toks"))
          .filter(size(col("toks")) > 2)
          .select(explode(expr(
            "transform(sequence(0, size(toks) - 3), " +
              "i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("r"))
          .cutLineage()
        val tot = broadcast(words.agg(sum("r").as("__t")))
        val cc = words.groupBy("r").agg(count(lit(1)).as("n_r"))
        val n1 = broadcast(cc.filter(col("r") === 1)
          .agg(coalesce(max("n_r"), lit(0L)).as("__n1")))
        val nxt = cc.select((col("r") - 1).as("r"), col("n_r").as("n_r1"))
        cc.join(nxt, Seq("r"), "left")
          .filter(col("r") <= 10)
          .crossJoin(tot).crossJoin(n1)
          .withColumn("n_r1", coalesce(col("n_r1"), lit(0L)))
          .withColumn("r_star_ppm",
            expr("1000000 * (r + 1) * n_r1 div n_r"))
          .withColumn("p0_ppm", expr("1000000 * __n1 div __t"))
          .select("r", "n_r", "n_r1", "r_star_ppm", "p0_ppm")
          .orderBy("r")
      },
      Some(s"""WITH grams AS (
                 SELECT unnest(list_transform(range(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
                   AS w
                 FROM (SELECT string_split($duckNorm, ' ') AS toks
                       FROM documents)
                 WHERE len(toks) > 2),
               words AS MATERIALIZED (
                 SELECT w, CAST(count(*) AS BIGINT) AS r FROM grams
                 GROUP BY w),
               tot AS (SELECT CAST(sum(r) AS BIGINT) AS t FROM words),
               cc AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r
                      FROM words GROUP BY r),
               n1 AS (SELECT CAST(coalesce(max(n_r), 0) AS BIGINT) AS v
                      FROM cc WHERE r = 1)
               SELECT cc.r, cc.n_r,
                 CAST(coalesce(nx.n_r, 0) AS BIGINT) AS n_r1,
                 CAST(1000000 * (cc.r + 1) * coalesce(nx.n_r, 0) // cc.n_r
                   AS BIGINT) AS r_star_ppm,
                 CAST(1000000 * n1.v // tot.t AS BIGINT) AS p0_ppm
               FROM cc LEFT JOIN cc nx ON nx.r = cc.r + 1, tot, n1
               WHERE cc.r <= 10 ORDER BY cc.r""")),

    Q("x_heavy_hitters",
      // Exact heavy hitters by the two-pass sketch-then-verify plan —
      // every word with frequency > n/200 of the corpus token stream,
      // found WITHOUT ever shuffling the full vocabulary: pass 1 runs
      // `mg_topk(w, 200)` (functions/MisraGriesAgg, a native
      // TypedImperativeAggregate holding <= 199 Misra-Gries counters
      // that partial-aggregates map-side and merges by the Agarwal et
      // al. mergeable-summaries rule), whose output is GUARANTEED to
      // contain every true heavy hitter in any arrival order and under
      // any merge tree; pass 2 joins the <= 199 candidates back
      // (broadcast), counts them exactly, and keeps freq*200 > n. The
      // final set is deterministic even though the sketch's internal
      // counters are not — and the DuckDB oracle computes exact counts
      // over the whole vocabulary directly, so a green row is a
      // machine-checked proof that the sketch's superset guarantee
      // held on this corpus (a dropped true hitter can never come
      // back). At 100 TB this is THE frequent-items plan: the exact
      // groupBy the oracle runs is the thing that stops scaling.
      (s, d) => {
        val toks = spread(t(s, d, "documents"))
          .select(explode(split(expr(sparkNorm), " ")).as("w"))
          .filter(length(col("w")) > 0)
        val cands = toks.agg(expr("mg_topk(w, 200)").as("cs"))
          .select(explode(col("cs")).as("w"))
        val tot = broadcast(toks.agg(count(lit(1)).as("__n")))
        toks.join(broadcast(cands), Seq("w"))
          .groupBy("w").agg(count(lit(1)).as("freq"))
          .crossJoin(tot)
          .filter(col("freq") * 200 > col("__n"))
          .withColumn("freq_ppm", expr("1000000 * freq div __n"))
          .select("w", "freq", "freq_ppm")
          .orderBy(desc("freq"), col("w"))
      },
      Some(s"""WITH toks AS (
                 SELECT unnest(string_split($duckNorm, ' ')) AS w
                 FROM documents),
               words AS MATERIALIZED (
                 SELECT w, CAST(count(*) AS BIGINT) AS freq FROM toks
                 WHERE length(w) > 0 GROUP BY w),
               tot AS (SELECT CAST(sum(freq) AS BIGINT) AS n FROM words)
               SELECT w, freq,
                 CAST(1000000 * freq // n AS BIGINT) AS freq_ppm
               FROM words, tot
               WHERE freq * 200 > n
               ORDER BY freq DESC, w""")),

    Q("x_hh_change",
      // Heavy-hitter CHANGE detection (round-11 verdict #2 / seventh
      // proposal #6) — the trending-words query: which items' frequency
      // SHARE moved by more than delta between two windows, answered by
      // the two-window composition of x_heavy_hitters' sketch-then-
      // verify plan. One `mg_topk(w, 2000)` per window (the windows here
      // are the deterministic doc_id-parity halves; in the streaming
      // face they are consecutive time windows — see
      // IncrementalPipeline.windowedHeavyHitterCandidates) gives a
      // candidate set GUARANTEED to contain every item whose share
      // exceeds 1/2000 in that window; the union of both candidate sets
      // therefore covers every item the share-floor filter can accept.
      // Pass 2 recounts the <= ~4000 candidates exactly in BOTH windows
      // with one broadcast semi-join — the full vocabulary never
      // shuffles, which is what makes trend detection 100 TB-shaped
      // (the oracle's exact two-window groupBy over every word is the
      // plan that stops scaling). Output filter is purely
      // exact-count-based (share >= 1/2000 in either window AND
      // |share_a - share_b| > 100 ppm, all BIGINT), so the sketch's
      // superset guarantee is machine-checked by the green row, exactly
      // as in x_heavy_hitters.
      (s, d) => {
        val toks = spread(t(s, d, "documents"))
          .select(pmod(col("doc_id"), lit(2)).as("win"),
            explode(split(expr(sparkNorm), " ")).as("w"))
          .filter(length(col("w")) > 0)
        val cands = toks.groupBy("win").agg(expr("mg_topk(w, 2000)").as("cs"))
          .select(explode(col("cs")).as("w")).distinct()
        val tot = broadcast(toks.agg(
          sum(when(col("win") === 0, 1L).otherwise(0L)).as("na"),
          sum(when(col("win") === 1, 1L).otherwise(0L)).as("nb")))
        toks.join(broadcast(cands), Seq("w"))
          .groupBy("w")
          .agg(coalesce(sum(when(col("win") === 0, 1L)), lit(0L)).as("freq_a"),
            coalesce(sum(when(col("win") === 1, 1L)), lit(0L)).as("freq_b"))
          .crossJoin(tot)
          .withColumn("share_a_ppm", expr("1000000 * freq_a div na"))
          .withColumn("share_b_ppm", expr("1000000 * freq_b div nb"))
          .withColumn("delta_ppm", expr("abs(share_a_ppm - share_b_ppm)"))
          .filter(col("freq_a") * 2000 > col("na") ||
            col("freq_b") * 2000 > col("nb"))
          .filter(col("delta_ppm") > 100)
          .select("w", "freq_a", "freq_b", "share_a_ppm", "share_b_ppm",
            "delta_ppm")
          .orderBy(desc("delta_ppm"), col("w"))
      },
      Some(s"""WITH toks AS (
                 SELECT doc_id % 2 AS win,
                   unnest(string_split($duckNorm, ' ')) AS w
                 FROM documents),
               words AS MATERIALIZED (
                 SELECT win, w, CAST(count(*) AS BIGINT) AS freq FROM toks
                 WHERE length(w) > 0 GROUP BY 1, 2),
               tot AS (SELECT
                 CAST(sum(CASE WHEN win = 0 THEN freq ELSE 0 END) AS BIGINT) AS na,
                 CAST(sum(CASE WHEN win = 1 THEN freq ELSE 0 END) AS BIGINT) AS nb
                 FROM words),
               sh AS (SELECT w,
                 CAST(coalesce(sum(CASE WHEN win = 0 THEN freq END), 0) AS BIGINT) AS freq_a,
                 CAST(coalesce(sum(CASE WHEN win = 1 THEN freq END), 0) AS BIGINT) AS freq_b
                 FROM words GROUP BY w)
               SELECT w, freq_a, freq_b,
                 CAST(1000000 * freq_a // na AS BIGINT) AS share_a_ppm,
                 CAST(1000000 * freq_b // nb AS BIGINT) AS share_b_ppm,
                 CAST(abs(1000000 * freq_a // na - 1000000 * freq_b // nb)
                   AS BIGINT) AS delta_ppm
               FROM sh, tot
               WHERE (freq_a * 2000 > na OR freq_b * 2000 > nb)
                 AND abs(1000000 * freq_a // na - 1000000 * freq_b // nb) > 100
               ORDER BY delta_ppm DESC, w""")),

    Q("x_sorted_blocking",
      // Sorted-neighborhood blocking (Hernandez & Stolfo's merge/purge,
      // SIGMOD 1995) — the FOURTH similarity-join discipline in the
      // catalog, next to banding (x_minhash_lsh/x_simhash), deletion
      // neighborhoods (x_editdist_join) and prefix filtering (x_ppjoin):
      // sort the corpus by a similarity-preserving key (first 16
      // ASCII chars of the normalized text — stripped to [a-z0-9 ]
      // because CJK makes Spark's UTF-16 ordering and substring
      // semantics diverge from DuckDB's code-point ones), slide a
      // w=10 window over the sorted order, and exact-verify only
      // in-window pairs (token Jaccard >= 0.8, the integer form
      // 9*|A intersect B| >= 4*(|A|+|B|) — no division). The sort is
      // DISTRIBUTED, not a single global window: per-bucket positions
      // (bucket = first key byte) plus broadcast cumulative offsets
      // give every row its exact global rank with no 1-partition
      // window, and the in-window pairing is the binned band
      // self-join (bin = pos div w, probe bins {b, b-1}) — the same
      // plan shape as j13_interval_overlap, so the whole operator is
      // one sort-shaped shuffle + one merge self-join at any scale.
      // The oracle states the flat global window over the identical
      // key, so a green row proves the bucket+offset decomposition
      // reproduces the sequential SNM pair set exactly.
      (s, d) => {
        val w = 10
        val keyExpr = s"substring(regexp_replace($sparkNorm, " +
          "'[^a-z0-9 ]', ''), 1, 16)"
        val docs = spread(t(s, d, "documents"))
          .select(col("doc_id"), expr(keyExpr).as("k"),
            array_distinct(split(expr(sparkNorm), " ")).as("toks"))
          .withColumn("bkt", substring(col("k"), 1, 1))
        val offsets = docs.groupBy("bkt").agg(count(lit(1)).as("n"))
          .withColumn("off", coalesce(sum("n").over(
            Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
          .select("bkt", "off")
        val pos = docs.join(broadcast(offsets), Seq("bkt"))
          .withColumn("pos", col("off") + row_number().over(
            Window.partitionBy("bkt").orderBy("k", "doc_id")))
          .select(col("doc_id"), col("pos"), col("toks"),
            size(col("toks")).as("sz"))
        val a = pos.select(col("doc_id").as("doc_a"), col("pos").as("pa"),
          col("toks").as("ta"), col("sz").as("la"))
          .withColumn("bin", expr(s"pa div $w"))
        val b = pos.select(col("doc_id").as("doc_b"), col("pos").as("pb"),
          col("toks").as("tb"), col("sz").as("lb"))
          .withColumn("bin", explode(expr(s"array(pb div $w, pb div $w - 1)")))
        a.join(b.hint("merge"), Seq("bin"))
          .filter(col("pb") > col("pa") && col("pb") - col("pa") < w)
          .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
          .filter(col("inter") * 9 >= (col("la") + col("lb")) * 4)
          .withColumn("jacc_ppm",
            expr("1000000 * CAST(inter AS BIGINT) div (la + lb - inter)"))
          .select("doc_a", "doc_b", "inter", "jacc_ppm")
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH d AS (
                 SELECT doc_id,
                   substring(regexp_replace($duckNorm,
                     '[^a-z0-9 ]', '', 'g'), 1, 16) AS k,
                   list_distinct(string_split($duckNorm, ' ')) AS toks
                 FROM documents),
               p AS (SELECT doc_id, toks,
                       row_number() OVER (ORDER BY k, doc_id) AS pos
                     FROM d)
               SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(len(list_intersect(a.toks, b.toks)) AS INT) AS inter,
                 CAST(1000000 * len(list_intersect(a.toks, b.toks))
                   // (len(a.toks) + len(b.toks)
                       - len(list_intersect(a.toks, b.toks))) AS BIGINT)
                   AS jacc_ppm
               FROM p a JOIN p b ON b.pos - a.pos BETWEEN 1 AND 9
               WHERE 9 * len(list_intersect(a.toks, b.toks))
                 >= 4 * (len(a.toks) + len(b.toks))
               ORDER BY doc_a, doc_b""")),

    Q("x_pmi_collocations",
      // PMI-ranked collocations WITHOUT log (Church & Hanks 1990): PMI
      // = log(c12*N / (c1*c2)) is monotone in the ratio inside the
      // log, so ordering by the exact integer ratio_e4 = 1e4*c12*N div
      // (c1*c2) IS the true PMI order with zero libm exposure (the
      // a_linreg_gd rule: transcendentals are 1-ulp-faithful and can
      // flip a quantization boundary; a monotone substitution removes
      // them entirely). Bigrams are one row-local zip_with over each
      // doc's token array — no position join, no shuffle before the
      // vocabulary-bounded aggregations — and the unigram side
      // broadcasts (the vocabulary is orders of magnitude smaller than
      // the corpus at any scale). Min support 5 on the pair; top-20
      // under a total (ratio, w1, w2) order. The ratio is computed in
      // DECIMAL(38,0)/HUGEINT (round-12 verdict #7 — the stated ~500x
      // int64 margin at sf1 became ~5x at sf100, so the risky product
      // 1e4*c12*N is now WIDENED rather than margin-argued: headroom
      // is 1e38, i.e. ~1e23 corpora; the BIGINT quotient is bounded by
      // 1e4*N/c_max < 1e4*N, int64-safe while N < 9e14 tokens).
      (s, d) => {
        val toks = spread(t(s, d, "documents"))
          .select(split(expr(sparkNorm), " ").as("ts"))
        val uni = toks.select(explode(col("ts")).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy("w").agg(count(lit(1)).as("c"))
        val tot = broadcast(uni.agg(sum("c").cast("long").as("n")))
        val big = toks.filter(size(col("ts")) >= 2)
          .select(explode(expr(
            "zip_with(slice(ts, 1, size(ts) - 1), slice(ts, 2, size(ts) - 1), " +
              "(a, b) -> struct(a AS w1, b AS w2))")).as("p"))
          .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
          .filter(length(col("w1")) > 0 && length(col("w2")) > 0)
          .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
          .filter(col("c12") >= 5)
        big
          .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c1"))), Seq("w1"))
          .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c2"))), Seq("w2"))
          .crossJoin(tot)
          .withColumn("ratio_e4", expr(
            "CAST(CAST(10000 AS DECIMAL(38,0)) * c12 * n" +
              " div (CAST(c1 AS DECIMAL(38,0)) * c2) AS BIGINT)"))
          .select("w1", "w2", "c12", "c1", "c2", "ratio_e4")
          .orderBy(desc("ratio_e4"), col("w1"), col("w2"))
          .limit(20)
      },
      Some(s"""WITH toks AS (
                 SELECT string_split($duckNorm, ' ') AS ts FROM documents),
               uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c
                       FROM (SELECT unnest(ts) AS w FROM toks)
                       WHERE length(w) > 0 GROUP BY w),
               tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
               big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM (
                   SELECT unnest(list_transform(range(1, len(ts)), i -> ts[i])) AS w1,
                          unnest(list_transform(range(1, len(ts)), i -> ts[i + 1])) AS w2
                   FROM toks)
                 WHERE length(w1) > 0 AND length(w2) > 0 GROUP BY 1, 2)
               SELECT b.w1, b.w2, b.c12, u1.c AS c1, u2.c AS c2,
                 CAST(CAST(10000 AS HUGEINT) * b.c12 * n // (CAST(u1.c AS HUGEINT) * u2.c) AS BIGINT) AS ratio_e4
               FROM big b JOIN uni u1 ON b.w1 = u1.w
                 JOIN uni u2 ON b.w2 = u2.w, tot
               WHERE b.c12 >= 5
               ORDER BY ratio_e4 DESC, b.w1, b.w2 LIMIT 20""")),

    Q("x_em_linkage",
      // Fellegi-Sunter probabilistic record linkage with unsupervised
      // EM (operators/RecordLinkage — Fellegi & Sunter 1969, Winkler's
      // EM fit; the Splink model): candidate document pairs from
      // multi-pass blocking (union of first-2-token and last-2-token
      // key passes, each block capped at its 32 lowest doc_ids — the
      // minhash bucket-cap discipline, so a shared-vocabulary corpus
      // can never go quadratic), compared on four binary fields
      // (same source / length within 10% / same lang / same 3-token
      // suffix), and the match rate lambda + per-field m/u agreement
      // probabilities learned by 5 EM iterations WITHOUT labels. The
      // E-step posterior depends only on the gamma PATTERN, so after
      // one corpus aggregation EM runs on a <= 16-row frame: the
      // corpus never re-enters the loop — that is what makes the
      // statistical upgrade of the reference's deterministic match
      // cascade (J7) 100 TB-shaped. All parameters are integer ppm
      // (fixed IEEE expression tree for the posterior, pure BIGINT
      // M-step), so the oracle's replay of the same 5 iterations must
      // agree bit-for-bit on every parameter and posterior.
      (s, d) => {
        val k = spread(t(s, d, "documents"))
          .withColumn("toks", split(expr(sparkNorm), " "))
          .filter(size(col("toks")) >= 3)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
            expr("concat(toks[0], ' ', toks[1])").as("pk"),
            expr("concat(toks[size(toks)-2], ' ', toks[size(toks)-1])")
              .as("sk"),
            expr("concat(toks[size(toks)-3], ' ', toks[size(toks)-2], " +
              "' ', toks[size(toks)-1])").as("sfx"))
          .cutLineage()
        def blockPairs(key: String) = {
          val w = Window.partitionBy(key).orderBy("doc_id")
          val capped = k.withColumn("rn", row_number().over(w))
            .filter(col("rn") <= 32)
            .select(col(key).as("bk"), col("doc_id"))
          capped.select(col("bk"), col("doc_id").as("ida"))
            .join(capped.select(col("bk"), col("doc_id").as("idb")),
              Seq("bk"))
            .filter(col("ida") < col("idb"))
            .select("ida", "idb")
        }
        val pairs = blockPairs("pk").union(blockPairs("sk")).distinct()
        val a = k.select(col("doc_id").as("ida"), col("source").as("src_a"),
          col("lang").as("lang_a"), col("n_chars").as("nc_a"),
          col("sfx").as("sfx_a"))
        val b = k.select(col("doc_id").as("idb"), col("source").as("src_b"),
          col("lang").as("lang_b"), col("n_chars").as("nc_b"),
          col("sfx").as("sfx_b"))
        val patterns = pairs.join(a, Seq("ida")).join(b, Seq("idb"))
          .select(
            when(col("src_a") === col("src_b"), 1).otherwise(0).as("g1"),
            when(abs(col("nc_a") - col("nc_b")) * 10 <=
              least(col("nc_a"), col("nc_b")), 1).otherwise(0).as("g2"),
            when(col("lang_a") === col("lang_b"), 1).otherwise(0).as("g3"),
            when(col("sfx_a") === col("sfx_b"), 1).otherwise(0).as("g4"))
          .groupBy("g1", "g2", "g3", "g4").agg(count(lit(1)).as("n"))
          .cutLineage()
        graft.operators.RecordLinkage
          .emPpm(patterns, Seq("g1", "g2", "g3", "g4"), iters = 5)
          .select(col("g1"), col("g2"), col("g3"), col("g4"),
            col("n").as("n_pairs"), col("r_ppm"),
            col("lam").as("lam_ppm"),
            col("m_g1").as("m1_ppm"), col("m_g2").as("m2_ppm"),
            col("m_g3").as("m3_ppm"), col("m_g4").as("m4_ppm"),
            col("u_g1").as("u1_ppm"), col("u_g2").as("u2_ppm"),
            col("u_g3").as("u3_ppm"), col("u_g4").as("u4_ppm"))
          .orderBy("g1", "g2", "g3", "g4")
      },
      Some(duckEmLinkageSql)),

    Q("x_kneser_ney",
      // Interpolated Kneser-Ney smoothing (Kneser & Ney 1995; Chen &
      // Goodman's interpolated form) over the corpus word bigrams —
      // the n-gram-LM smoothing that beat everything for two decades
      // and still scores corpora in curation stacks (KenLM/CCNet run
      // this family). The defining idea vs x_good_turing's
      // count-of-counts: a word's backoff weight is how many DISTINCT
      // contexts it continues ("san francisco" gives 'francisco' a
      // huge raw count but one continuation class), so
      //   P(w2|w1) = max(c12 - D, 0)/c1
      //            + D * N1+(w1,.)/c1 * N1+(.,w2)/N_types
      // with discount D = 3/4. Multiplying through by 4*c1*N_types
      // makes every term integral:
      //   p = [max(4*c12 - 3, 0)*N_types + 3*N1+(w1,.)*N1+(.,w2)]
      //       / (4*c1*N_types)
      // — one BIGINT ratio published as ppm, no float anywhere. Scale
      // shape: bigram counts are one corpus aggregation; context
      // totals, continuation counts, and history counts are three
      // vocabulary-bounded aggregations off it; N_types folds in as a
      // broadcast 1-row aggregate. Published: the top-20 conditional
      // probabilities (total order by p, w1, w2).
      (s, d) => {
        val toks = spread(t(s, d, "documents"))
          .select(split(expr(sparkNorm), " ").as("toks"))
          .filter(size(col("toks")) >= 2)
        val big = toks.select(explode(expr(
          "transform(sequence(0, size(toks) - 2), " +
            "i -> struct(toks[i] AS w1, toks[i+1] AS w2))")).as("b"))
          .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        val c12 = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
          .cutLineage()
        val c1 = c12.groupBy("w1")
          .agg(sum("c12").as("c1"), count(lit(1)).as("n_cont"))
        val nh = c12.groupBy("w2").agg(count(lit(1)).as("n_hist"))
        val types = broadcast(c12.agg(count(lit(1)).as("__tt")))
        c12.join(c1, Seq("w1")).join(nh, Seq("w2")).crossJoin(types)
          .withColumn("p_kn_ppm", expr(
            "1000000 * (greatest(4 * c12 - 3, 0L) * __tt " +
              "+ 3 * n_cont * n_hist) div (4 * c1 * __tt)"))
          .select("w1", "w2", "c12", "c1", "n_cont", "n_hist", "p_kn_ppm")
          .orderBy(desc("p_kn_ppm"), col("w1"), col("w2"))
          .limit(20)
      },
      Some(s"""WITH big AS MATERIALIZED (
                 SELECT toks[i] AS w1, toks[i + 1] AS w2 FROM (
                   SELECT toks, unnest(range(1, len(toks))) AS i
                   FROM (SELECT string_split($duckNorm, ' ') AS toks
                         FROM documents)
                   WHERE len(toks) >= 2)),
               c12 AS MATERIALIZED (
                 SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
                 FROM big GROUP BY 1, 2),
               c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                        CAST(count(*) AS BIGINT) AS n_cont
                      FROM c12 GROUP BY 1),
               nh AS (SELECT w2, CAST(count(*) AS BIGINT) AS n_hist
                      FROM c12 GROUP BY 1),
               tt AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM c12)
               SELECT c12.w1, c12.w2, c12.c12, c1.c1, c1.n_cont, nh.n_hist,
                 CAST(1000000 * (greatest(4 * c12.c12 - 3, 0) * tt
                   + 3 * c1.n_cont * nh.n_hist) // (4 * c1.c1 * tt)
                   AS BIGINT) AS p_kn_ppm
               FROM c12 JOIN c1 USING (w1) JOIN nh USING (w2), tt
               ORDER BY p_kn_ppm DESC, c12.w1, c12.w2
               LIMIT 20""")),

    Q("x_max_coverage",
      // Greedy maximum-coverage data selection (operators/MaxCoverage
      // — Nemhauser-Wolsey-Fisher's (1-1/e) greedy): pick the 10
      // documents that together cover the most distinct word trigrams
      // — the submodular COVERAGE selector next to the distance-based
      // diversity selectors (v_kcenter_coreset keeps far-apart rows,
      // v_semantic_dedup drops near ones): this is how a curator
      // builds a compact panel that still SEES every n-gram/topic
      // (CRAIG-style coreset selection). Marginal gains are exact
      // integer counts and the per-round argmax is a broadcast 1-row
      // max(struct(gain, -item)) — least doc on ties — so both
      // engines replay the identical greedy trajectory; the oracle
      // unrolls the same 10 rounds through temp tables with its own
      // ORDER BY/LIMIT argmax. Per round: one element-keyed anti-join
      // + one item-keyed count — k bounded linear passes, the covered
      // set holds only chosen items' elements.
      (s, d) => {
        val inc = spread(t(s, d, "documents"))
          .select(col("doc_id"), split(expr(sparkNorm), " ").as("toks"))
          .filter(size(col("toks")) > 2)
          .select(col("doc_id").as("item"), explode(expr(
            "transform(sequence(0, size(toks) - 3), " +
              "i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))"))
            .as("element"))
        graft.operators.MaxCoverage.greedy(inc, k = 10)
          .select(col("rank"), col("item").as("doc_id"), col("gain"),
            col("covered_total"))
          .orderBy("rank")
      },
      Some(duckMaxCoverageSql(rounds = 10))),

    Q("x_aho_corasick",
      // Multi-pattern single-pass scan (Aho–Corasick 1975) — the 100 TB
      // form of x_blocklist_filter: that query (and any instr/regexp
      // formulation) scans the corpus once PER NEEDLE, so a
      // hundreds-of-terms blocklist reads the corpus hundreds of times;
      // the dictionary automaton (functions/MultiMatch.scala, a native
      // codegen Expression) reads each byte exactly ONCE for the whole
      // vocabulary. Matching is SUBSTRING-level (not token-exact like
      // x_blocklist_filter), counts include overlapping occurrences,
      // and the vocabulary is chosen to exercise the automaton's two
      // hard cases: needles reachable only via dictionary suffix links
      // ('scan' ⊃ 'can' ⊃ 'an'; 'slow' ⊃ 'low'; 'spark' ⊃ 'par') and a
      // self-overlapping needle ('a a' matches twice in 'a a a' — a
      // replace()-based count would see one). The oracle states the
      // naive per-needle character-position count — green proves the
      // single-pass byte automaton against the k-pass definition.
      // Published per (source, needle): docs hit + total occurrences.
      (s, d) => {
        val ndl = acNeedles.map(n => s"'$n'").mkString(", ")
        t(s, d, "documents")
          .withColumn("counts", expr(s"multi_match($sparkNorm, $ndl)"))
          .select(col("source"), posexplode(col("counts")).as(Seq("i", "cnt")))
          .withColumn("needle",
            element_at(array(acNeedles.map(lit): _*), col("i") + 1))
          .groupBy("source", "needle")
          .agg(sum(when(col("cnt") > 0, 1L).otherwise(0L)).as("n_docs_hit"),
            sum("cnt").as("n_hits"))
          .orderBy("source", "needle")
      },
      Some(duckAhoCorasickSql)),

    Q("x_huffman_bound",
      // Optimal prefix-code lengths for the token vocabulary (Huffman
      // 1952, two-queue construction van Leeuwen 1976) — the exact
      // compression bound the x_unigram/x_bpe token-cost family can be
      // judged against: per token its optimal code length, the
      // corpus's weighted bits-per-token vs the flat fixed-width code,
      // and the Kraft sum as an IN-ROW invariant (sum 2^(Lmax-l) must
      // equal 2^Lmax exactly — a single wrong length breaks it).
      // Scale shape: the corpus is touched once (the token-frequency
      // aggregate); the construction runs entirely on the vocabulary-
      // bounded 1-row frame as ONE aggregate-HOF fold of V-1 merges
      // (the w27 discipline) — each step takes the two cheapest nodes
      // off the (weight, birth-id)-sorted queue, appends the merge,
      // and bumps the member leaves' depths. Determinism: ties break
      // on birth id (leaves in weight-ascending rank order, merges
      // numbered after), the identical total order on both engines;
      // the oracle replays the same V-1 steps as a bounded recursive
      // CTE over LIST state. The flat baseline is integer-exact too:
      // bits = length(bin(V-1)), no log2 float anywhere.
      (s, d) => {
        val leaves = spread(t(s, d, "documents"))
          .select(explode(split(expr(sparkNorm), " ")).as("token"))
          .groupBy("token").agg(count(lit(1)).as("freq"))
          .orderBy(desc("freq"), col("token")).limit(64)
          .withColumn("id", (row_number().over(
            Window.orderBy(col("freq").asc, col("token").asc)) - 1).cast("int"))
        val folded = leaves.agg(
          expr("array_sort(collect_list(named_struct(" +
            "'w', freq, 'id', id, 'm', array(id))))").as("ns"),
          expr("collect_list(named_struct(" +
            "'id', id, 'token', token, 'freq', freq))").as("ls"))
          // guard: sequence(1, 0) in Spark DESCENDS — a 1-token
          // vocabulary must skip the merge fold entirely (depth 0)
          .withColumn("dep", expr("""
            IF(size(ns) < 2, transform(ns, x -> 0),
            aggregate(
              sequence(1, size(ns) - 1),
              named_struct('q', ns, 'dep', transform(ns, x -> 0)),
              (acc, t) -> named_struct(
                'q', array_sort(concat(
                  slice(acc.q, 3, size(acc.q) - 2),
                  array(named_struct(
                    'w', acc.q[0].w + acc.q[1].w,
                    'id', size(ns) - 1 + t,
                    'm', concat(acc.q[0].m, acc.q[1].m))))),
                'dep', transform(acc.dep, (dd, k) ->
                  dd + IF(array_contains(acc.q[0].m, k)
                    OR array_contains(acc.q[1].m, k), 1, 0))),
              acc -> acc.dep))"""))
        val out = folded
          .select(explode(col("ls")).as("l"), col("dep"))
          .select(col("l.token").as("token"), col("l.freq").as("freq"),
            expr("CAST(element_at(dep, l.id + 1) AS BIGINT)").as("code_len"))
        val st = broadcast(out.agg(
          sum(expr("freq * code_len")).as("total_bits"),
          sum("freq").as("total_toks"),
          max("code_len").as("lmax"),
          count(lit(1)).as("nv")))
        val kraft = broadcast(out.crossJoin(st)
          .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), " +
            "CAST(lmax - code_len AS INT))")).as("ksum")))
        out.crossJoin(st).crossJoin(kraft)
          .select(col("token"), col("freq"), col("code_len"),
            expr("freq * code_len").as("w_bits"),
            expr("(1000000 * total_bits) div total_toks")
              .as("bits_per_token_ppm"),
            expr("CAST(length(bin(nv - 1)) AS BIGINT)").as("flat_bits"),
            expr("CAST(ksum = shiftleft(CAST(1 AS BIGINT), CAST(lmax AS INT))" +
              " AS INT)").as("kraft_ok"))
          .orderBy(desc("freq"), col("token"))
      },
      Some(s"""WITH RECURSIVE
              tok AS (SELECT unnest(string_split($duckNorm, ' ')) AS token
                      FROM documents),
              freqs AS (SELECT token, CAST(count(*) AS BIGINT) AS freq
                        FROM tok GROUP BY 1
                        ORDER BY freq DESC, token LIMIT 64),
              leaves AS (SELECT token, freq,
                  CAST(row_number() OVER (ORDER BY freq, token) - 1 AS INT)
                    AS id
                FROM freqs),
              init AS (SELECT
                  list(struct_pack(w := freq, id := id, m := [id])
                    ORDER BY freq, id) AS q,
                  CAST(count(*) AS INT) AS nv
                FROM leaves),
              walk AS (
                SELECT 0 AS t, q, [0 FOR k IN range(nv)] AS dep, nv FROM init
                UNION ALL
                SELECT t + 1,
                  list_sort(list_concat(q[3:],
                    [struct_pack(w := q[1].w + q[2].w,
                       id := nv + t,
                       m := list_concat(q[1].m, q[2].m))])),
                  [dep[k + 1] + CASE WHEN list_contains(q[1].m, k)
                     OR list_contains(q[2].m, k) THEN 1 ELSE 0 END
                   FOR k IN range(len(dep))],
                  nv
                FROM walk WHERE t < nv - 1),
              fin AS (SELECT dep FROM walk WHERE t = nv - 1),
              outt AS (SELECT l.token, l.freq,
                  CAST(dep[l.id + 1] AS BIGINT) AS code_len
                FROM leaves l, fin),
              st AS (SELECT CAST(sum(freq * code_len) AS BIGINT)
                    AS total_bits,
                  CAST(sum(freq) AS BIGINT) AS total_toks,
                  max(code_len) AS lmax,
                  CAST(count(*) AS BIGINT) AS nv FROM outt),
              kr AS (SELECT CAST(sum(CAST(1 AS BIGINT)
                    << CAST(lmax - code_len AS INT)) AS BIGINT) AS ksum
                FROM outt, st)
              SELECT token, freq, code_len,
                CAST(freq * code_len AS BIGINT) AS w_bits,
                CAST((1000000 * total_bits) // total_toks AS BIGINT)
                  AS bits_per_token_ppm,
                CAST(length(bin(nv - 1)) AS BIGINT) AS flat_bits,
                CAST(CASE WHEN ksum = CAST(1 AS BIGINT)
                  << CAST(lmax AS INT) THEN 1 ELSE 0 END AS INT) AS kraft_ok
              FROM outt, st, kr
              ORDER BY freq DESC, token""")),

    Q("x_lz_complexity",
      // Lempel-Ziv-76 complexity (Lempel & Ziv 1976, the Kaspar-
      // Schuster counting scheme): per document, the number of LZ
      // phrases in its character stream — the compression-complexity
      // quality signal next to x_gopher_repetition/x_dup_span_fraction
      // (templated/boilerplate text parses into few long phrases, so
      // LOW phrase density flags it; x_huffman_bound prices symbol
      // frequencies, this prices STRUCTURE). The parse is the exact
      // canonical one: scan left to right, extend the current phrase
      // while the window [start..k] still occurs somewhere in the
      // prefix ending at k-1 (overlap allowed), count a phrase and
      // restart at each failure, +1 for a pending unfinished phrase.
      // Feasibility bound stated up front: the declarative fold is
      // O(len^2) per row with an O(len) instr probe inside, so the
      // input is the first 64 ASCII chars (~11 tokens) — enough to
      // separate the corpus's repetition strata; longer windows want
      // the suffix-automaton formulation (declared, not attempted;
      // the proposal's 256-char cap priced the oracle's recursive
      // replay wrong by 64x). Scale shape: one corpus pass, the fold
      // is row-local inside codegen, and the rollup is a source-
      // bounded aggregate. The oracle replays the identical fold as a
      // bounded recursive CTE (depth 64, all docs advance together).
      (s, d) => {
        val rolled = spread(t(s, d, "documents"))
          .withColumn("a", expr("substring(regexp_replace(" +
            s"$sparkNorm, '[^\\\\x00-\\\\x7f]', ''), 1, 64)"))
          .withColumn("n", length(col("a")))
          .filter(col("n") >= 1)
          .withColumn("c", expr("""
            aggregate(sequence(1, n), named_struct('c', 0, 'st', 1),
              (acc, k) -> IF(instr(substring(a, 1, k - 1),
                  substring(a, acc.st, k - acc.st + 1)) > 0,
                acc,
                named_struct('c', acc.c + 1, 'st', k + 1)),
              acc -> acc.c + IF(acc.st <= n, 1, 0))"""))
        rolled.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("c").cast("long")).as("sum_phrases"),
            sum(col("n").cast("long")).as("sum_chars"),
            min(col("c").cast("long")).as("min_phrases"),
            max(col("c").cast("long")).as("max_phrases"))
          .withColumn("phrases_per_char_ppm",
            expr("(1000000 * sum_phrases) div sum_chars"))
          .orderBy("source")
      },
      Some(s"""WITH RECURSIVE dd AS (
                SELECT doc_id, source,
                  substring(regexp_replace($duckNorm, '[^\\x00-\\x7f]', '',
                    'g'), 1, 64) AS a
                FROM documents),
              d2 AS (SELECT doc_id, source, a, len(a) AS n FROM dd
                     WHERE len(a) >= 1),
              walk AS (
                SELECT doc_id, 0 AS k, 0 AS c, 1 AS st FROM d2
                UNION ALL
                SELECT w.doc_id, w.k + 1,
                  CASE WHEN strpos(substring(d.a, 1, w.k),
                      substring(d.a, w.st, w.k + 2 - w.st)) > 0
                    THEN w.c ELSE w.c + 1 END,
                  CASE WHEN strpos(substring(d.a, 1, w.k),
                      substring(d.a, w.st, w.k + 2 - w.st)) > 0
                    THEN w.st ELSE w.k + 2 END
                FROM walk w JOIN d2 d USING (doc_id) WHERE w.k < d.n),
              fin AS (
                SELECT w.doc_id, d.source, d.n,
                  w.c + CASE WHEN w.st <= d.n THEN 1 ELSE 0 END AS c
                FROM walk w JOIN d2 d USING (doc_id) WHERE w.k = d.n)
              SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(c) AS BIGINT) AS sum_phrases,
                CAST(sum(n) AS BIGINT) AS sum_chars,
                CAST(min(c) AS BIGINT) AS min_phrases,
                CAST(max(c) AS BIGINT) AS max_phrases,
                (1000000 * CAST(sum(c) AS BIGINT))
                  // CAST(sum(n) AS BIGINT) AS phrases_per_char_ppm
              FROM fin GROUP BY source ORDER BY source""")),

    Q("x_flesch_readability",
      // Flesch reading-ease (Flesch 1948), integer-exact — the
      // readability rung of the quality-scoring ladder (x_quality_score
      // prices length/punct/stopwords; this prices sentence and word
      // COMPLEXITY): score = 206.835 − 1.015·(words/sentences) −
      // 84.6·(syllables/word), published as the e3 fixed-point with
      // staged floor divisions (206835 − (1015·W) div S − (84600·Y)
      // div W — monotone truncation, the w22 discipline; no float
      // division anywhere). Two stated simplifications, identical on
      // both engines: sentences = 1 + period count (the synthetic
      // corpus has NO sentence punctuation, so S = n_docs and the
      // words-per-sentence term reads whole-document length — the
      // comparative readout across sources is still exact), and
      // syllables = maximal [aeiouy]+ group count (the classic
      // heuristic without the silent-e refinement; every corpus token
      // contains a vowel, so the per-word >= 1 clamp never binds).
      // Scale shape: one corpus pass of row-local regexp counts into a
      // source-bounded aggregate.
      (s, d) => {
        spread(t(s, d, "documents"))
          .withColumn("norm", expr(sparkNorm))
          .select(col("source"),
            expr("size(split(norm, ' '))").cast("long").as("w"),
            expr("CAST(1 + size(regexp_extract_all(norm, '\\\\.', 0))" +
              " AS BIGINT)").as("sent"),
            expr("size(regexp_extract_all(norm, '[aeiouy]+', 0))")
              .cast("long").as("y"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("w").as("n_words"),
            sum("sent").as("n_sentences"), sum("y").as("n_syllables"))
          .withColumn("flesch_e3", expr(
            "206835 - (1015 * n_words) div n_sentences" +
              " - (84600 * n_syllables) div n_words"))
          .orderBy("source")
      },
      Some(s"""WITH per AS (
                SELECT source,
                  CAST(len(string_split(norm, ' ')) AS BIGINT) AS w,
                  CAST(1 + len(regexp_extract_all(norm, '\\.')) AS BIGINT)
                    AS sent,
                  CAST(len(regexp_extract_all(norm, '[aeiouy]+'))
                    AS BIGINT) AS y
                FROM (SELECT source, $duckNorm AS norm FROM documents))
              SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(w) AS BIGINT) AS n_words,
                CAST(sum(sent) AS BIGINT) AS n_sentences,
                CAST(sum(y) AS BIGINT) AS n_syllables,
                206835 - (1015 * CAST(sum(w) AS BIGINT))
                    // CAST(sum(sent) AS BIGINT)
                  - (84600 * CAST(sum(y) AS BIGINT))
                    // CAST(sum(w) AS BIGINT) AS flesch_e3
              FROM per GROUP BY source ORDER BY source""")),

    Q("x_distinct_substrings",
      // Distinct-substring count per document (thirteenth-proposal #2;
      // suffix automata, Blumer et al. 1985) — the substring-DIVERSITY
      // quality signal completing the compression family: x_huffman
      // prices symbol frequencies, x_lz_complexity prices parse
      // structure, this counts the substring vocabulary itself (near
      // n(n+1)/2 for diverse text, collapsing for templated text). The
      // Spark side is the native `suffix_distinct` expression
      // (functions/SuffixDistinct.scala): O(n) automaton states, zero
      // intermediate strings, count = sum(len(v) - len(link(v))); the
      // oracle states the NAIVE form — explode all O(n^2) slices of
      // the 64-char horizon and count distinct — so green proves the
      // automaton against the definition (the x_aho_corasick recipe;
      // SuffixDistinctSpec additionally pins the expression against
      // the declarative twin on real docs and adversarial strings).
      // Published per source with the diversity ratio in exact ppm of
      // the n(n+1)/2 possible slices.
      (s, d) => {
        spread(t(s, d, "documents"))
          .withColumn("a", expr("substring(regexp_replace(" +
            s"$sparkNorm, '[^\\\\x00-\\\\x7f]', ''), 1, 64)"))
          .withColumn("n", length(col("a")).cast("long"))
          .filter(col("n") >= 1)
          .withColumn("dc", expr("suffix_distinct(a)"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("dc").as("sum_distinct"),
            sum(expr("n * (n + 1) div 2")).as("sum_possible"),
            min("dc").as("min_distinct"), max("dc").as("max_distinct"))
          .withColumn("diversity_ppm",
            expr("(1000000 * sum_distinct) div sum_possible"))
          .orderBy("source")
      },
      Some(s"""WITH dd AS (
                SELECT doc_id, source,
                  substring(regexp_replace($duckNorm, '[^\\x00-\\x7f]', '',
                    'g'), 1, 64) AS a
                FROM documents),
              d2 AS (SELECT doc_id, source, a, CAST(len(a) AS BIGINT) AS n
                     FROM dd WHERE len(a) >= 1),
              per AS (
                SELECT doc_id, source, n,
                  CAST(count(DISTINCT a[CAST(i AS INT):CAST(j AS INT)])
                    AS BIGINT) AS dc
                FROM d2, UNNEST(range(1, n + 1)) AS u(i),
                  UNNEST(range(1, n + 1)) AS w(j)
                WHERE j >= i
                GROUP BY 1, 2, 3)
              SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(dc) AS BIGINT) AS sum_distinct,
                CAST(sum(n * (n + 1) // 2) AS BIGINT) AS sum_possible,
                CAST(min(dc) AS BIGINT) AS min_distinct,
                CAST(max(dc) AS BIGINT) AS max_distinct,
                (1000000 * CAST(sum(dc) AS BIGINT))
                  // CAST(sum(n * (n + 1) // 2) AS BIGINT)
                  AS diversity_ppm
              FROM per GROUP BY source ORDER BY source""")),

    Q("x_frequent_spans",
      // Corpus-wide top-k most frequent substrings at exact lengths
      // {4, 7} (fourteenth-proposal #4) — the EXACT version of
      // x_repeated_spans' sampled view, via the suffix automaton
      // extended with endpos occurrence counts
      // (functions/SuffixSpans.scala: cnt propagation down the link
      // tree, each distinct span emitted ONCE per doc with its
      // in-document count already folded). Scale shape: the per-doc
      // emission is the distinct-span vocabulary (automaton states),
      // not the n-L+1 position explode the oracle states — at 100 TB
      // the rollup shuffles vocabulary-sized partial counts with
      // map-side combine, and the final top-10 is
      // TakeOrderedAndProject, never a corpus-sized window. The
      // 200-char ASCII horizon keeps the oracle's position explode
      // tractable (the x_distinct_substrings discipline); rank ties
      // break lexicographically (span unique within a length, so the
      // order is total).
      (s, d) => {
        val base = spread(t(s, d, "documents"))
          .withColumn("a", expr("substring(regexp_replace(" +
            s"$sparkNorm, '[^\\\\x00-\\\\x7f]', ''), 1, 200)"))
        def top(l: Int) = {
          val ranked = base.filter(length(col("a")) >= l)
            .select(explode(expr(s"suffix_spans(a, $l)")).as("e"))
            .groupBy(col("e.span").as("span"))
            .agg(sum(col("e.cnt")).as("cnt"))
            .orderBy(desc("cnt"), col("span")).limit(10)
          ranked.withColumn("rank", row_number().over(
              Window.orderBy(desc("cnt"), col("span"))).cast("long"))
            .select(lit(l.toLong).as("span_len"), col("rank"),
              col("span"), col("cnt"))
        }
        top(4).unionByName(top(7)).orderBy("span_len", "rank")
      },
      Some {
        def block(l: Int) =
          s"""SELECT CAST($l AS BIGINT) AS span_len,
                CAST(row_number() OVER (ORDER BY cnt DESC, span)
                  AS BIGINT) AS rank, span, cnt
              FROM (
                SELECT substring(a, CAST(i AS INT), $l) AS span,
                  CAST(count(*) AS BIGINT) AS cnt
                FROM dd, UNNEST(range(1, len(a) - $l + 2)) AS u$l(i)
                WHERE len(a) >= $l GROUP BY 1)
              ORDER BY cnt DESC, span LIMIT 10"""
        s"""WITH dd AS (
              SELECT substring(regexp_replace($duckNorm,
                '[^\\x00-\\x7f]', '', 'g'), 1, 200) AS a
              FROM documents)
            SELECT * FROM ((${block(4)}) UNION ALL (${block(7)}))
            ORDER BY span_len, rank"""
      }),

    Q("x_multi_replace",
      // Single-pass leftmost-longest multi-pattern REPLACEMENT
      // (functions/MultiReplace.scala, a native codegen Expression;
      // fourteenth-proposal #2) — the redaction engine x_redact_pii
      // lacks: that query rewrites with one regexp pass PER pattern,
      // where order is a silent semantic knob; multi_replace pins the
      // tokenizer-standard rule (leftmost wins, longest wins among
      // same-start) in ONE byte pass and returns the rewrite plus
      // per-needle replacement counts. The vocabulary is chosen so the
      // oracle can state the rule as a sequential longest-first
      // replace() chain and be provably equal: pairwise, no needle's
      // proper suffix is another's prefix and no needle occurs inside
      // another at a nonzero offset (checked over {the, 'the ',
      // 'and ', 'with ', 'from '}: the dangerous pairs are 'with '/
      // 'the' via suffix "th " vs prefix "the" — 3rd char ' ' vs 'e'
      // breaks it — and nothing else shares a boundary), so matches of
      // DIFFERENT needles can never overlap in any text; the one
      // nested pair 'the' < 'the ' is exactly the longest-rule case,
      // and replacing 'the ' before bare 'the' in the chain reproduces
      // it. The replacement '_' occurs in no needle, so a replace can
      // never manufacture a new match. Bare-'the' count = all 'the'
      // minus 'the ' (each self-overlap-free). Published per source:
      // doc count, the five replacement counts, rewritten length sum,
      // and a summed md5-prefix fingerprint of the rewritten text —
      // byte-level equality of every rewrite, not just counts.
      (s, d) => {
        val ndl = mrNeedles.map(n => s"'$n'").mkString(", ")
        spread(t(s, d, "documents"))
          .withColumn("mr", expr(s"multi_replace($sparkNorm, '_', $ndl)"))
          .select(col("source"), col("mr.rewritten").as("rew"),
            col("mr.counts").as("cnts"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(expr("element_at(cnts, 1)")).as("c_the"),
            sum(expr("element_at(cnts, 2)")).as("c_the_sp"),
            sum(expr("element_at(cnts, 3)")).as("c_and"),
            sum(expr("element_at(cnts, 4)")).as("c_with"),
            sum(expr("element_at(cnts, 5)")).as("c_from"),
            sum(length(col("rew")).cast("long")).as("sum_new_len"),
            sum(expr("CAST(conv(substring(md5(rew), 1, 12), 16, 10)" +
              " AS BIGINT)")).as("rew_fp"))
          .orderBy("source")
      },
      Some(duckMultiReplaceSql)),

    Q("x_kanon_audit",
      // Mondrian k-anonymity audit (LeFevre et al. 2006, ICDE —
      // fourteenth-proposal #5): the privacy-audit rung of the curation
      // ladder. Customers partition into equivalence classes by the
      // quasi-identifier (nation, mktsegment, $2000 balance bucket);
      // the audit publishes the k-anonymity profile of that
      // partitioning — group count, smallest group, exact lower-median
      // group size, and the ppm of RECORDS sitting in groups below
      // k = 5 — plus the profile of each single generalization one
      // Mondrian step would consider (drop a quasi-identifier
      // dimension, or widen the balance bucket 4x), so the row set IS
      // the cut decision: the variant with the lowest below-k ppm is
      // what Mondrian would take. All counts exact integers; the
      // median is the sorted-sizes element at (n+1) div 2 (the group
      // vocabulary is QI-bounded — 25 nations x 5 segments x ~56
      // buckets — so the collect is broadcast-sized at ANY corpus
      // scale; the corpus is touched once per variant for the group
      // sizes). Balance cents shift by +100000 before bucketing so
      // the division never sees a negative operand (Spark `div`
      // truncates toward zero, DuckDB `//` floors — they only agree
      // on nonnegative input).
      (s, d) => {
        val src = t(s, d, "customer").select(
          col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"),
          expr("(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + 100000)" +
            " div 200000").as("bk"),
          expr("(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + 100000)" +
            " div 800000").as("bk4"))
        def profile(variant: String, keys: Seq[String]) =
          src.groupBy(keys.map(col): _*)
            .agg(count(lit(1)).as("sz"))
            .agg(count(lit(1)).as("n_groups"),
              min("sz").as("min_size"),
              expr("element_at(array_sort(collect_list(sz))," +
                " CAST((count(1) + 1) div 2 AS INT))").as("median_size"),
              expr("1000000 * sum(IF(sz < 5, sz, 0L)) div sum(sz)")
                .as("below_k_ppm"))
            .select(lit(variant).as("variant"), col("n_groups"),
              col("min_size"), col("median_size"), col("below_k_ppm"))
        profile("a_base", Seq("nk", "seg", "bk"))
          .unionByName(profile("b_drop_nation", Seq("seg", "bk")))
          .unionByName(profile("c_drop_segment", Seq("nk", "bk")))
          .unionByName(profile("d_widen_balance", Seq("nk", "seg", "bk4")))
          .orderBy("variant")
      },
      Some {
        def prof(variant: String, keys: String) =
          s"""SELECT '$variant' AS variant,
                CAST(count(*) AS BIGINT) AS n_groups,
                CAST(min(sz) AS BIGINT) AS min_size,
                CAST((list_sort(list(sz)))[CAST((count(*) + 1) // 2 AS INT)]
                  AS BIGINT) AS median_size,
                CAST(1000000 * sum(CASE WHEN sz < 5 THEN sz ELSE 0 END)
                  // sum(sz) AS BIGINT) AS below_k_ppm
              FROM (SELECT count(*) AS sz FROM src GROUP BY $keys)"""
        s"""WITH src AS (
              SELECT c_nationkey AS nk, c_mktsegment AS seg,
                (CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + 100000)
                  // 200000 AS bk,
                (CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + 100000)
                  // 800000 AS bk4
              FROM customer)
            ${prof("a_base", "nk, seg, bk")}
            UNION ALL ${prof("b_drop_nation", "seg, bk")}
            UNION ALL ${prof("c_drop_segment", "nk, bk")}
            UNION ALL ${prof("d_widen_balance", "nk, seg, bk4")}
            ORDER BY variant"""
      }),

    Q("x_count_min",
      // Count-Min sketch with a point-query audit (Cormode &
      // Muthukrishnan 2005; fifteenth-proposal #1) — the one classic
      // sketch family the catalog was missing. The 4x256 sketch is
      // built RELATIONALLY: token counts (one corpus pass with
      // map-side combine), each token fanned to its 4 md5-derived
      // cells, cells summed — additions commute, so unlike CM's
      // conservative-update variant (declared infeasible-
      // deterministic: cell state depends on arrival order) the
      // sketch is a pure function of the multiset and replays exactly
      // on any engine. Published: the top-20 exact tokens with their
      // point-query estimates (min over the 4 rows) and the gap — the
      // CM theorem made visible: est >= exact ALWAYS (overcount-only,
      // an in-row invariant the driver hashes), est - exact bounded
      // by the collision mass in the lightest row. At 100 TB the
      // sketch is a 1024-cell broadcast frame; the estimate join
      // touches 20 x 4 rows.
      (s, d) => {
        val toks = spread(t(s, d, "documents"))
          .select(explode(split(expr(sparkNorm), " ")).as("tok"))
          .filter(length(col("tok")) > 0)
        val tc = toks.groupBy("tok").agg(count(lit(1)).as("c"))
          .cutLineage() // reused by the cell build AND the top-20
        def cell(r: Int) =
          s"pmod(CAST(conv(substring(md5(concat('$r:', tok)), 1, 12)," +
            s" 16, 10) AS BIGINT), 256)"
        val cells = (0 until 4).map(r => tc.select(lit(r).as("r"),
            expr(cell(r)).as("cl"), col("c")))
          .reduce(_ unionByName _)
          .groupBy("r", "cl").agg(sum("c").as("cc"))
        val top = tc.orderBy(desc("c"), col("tok")).limit(20)
        val probes = (0 until 4).map(r => top.select(col("tok"),
            col("c").as("c_exact"), lit(r).as("r"), expr(cell(r)).as("cl")))
          .reduce(_ unionByName _)
        probes.join(cells, Seq("r", "cl"))
          .groupBy("tok", "c_exact")
          .agg(min("cc").as("c_est"))
          .select(col("tok"), col("c_exact"), col("c_est"),
            (col("c_est") - col("c_exact")).as("overcount"))
          .orderBy(desc("c_exact"), col("tok"))
      },
      Some(duckCountMinSql)),

    Q("x_ams_f2",
      // AMS second-moment (self-join size) sketch (Alon-Matias-Szegedy
      // 1996, the Godel-prize construction; fifteenth-proposal #3):
      // F2 = sum of squared token frequencies — the collision-mass /
      // skew statistic a curator reads before choosing dedup
      // thresholds, and the textbook "tug-of-war" estimate: 16
      // estimators each sum sign(j, token) * freq with md5-derived
      // +/-1 signs (engine-independent bits, fully order-free), are
      // squared, averaged in 4 groups of 4, and the LOWER MEDIAN of
      // the group means is the estimate. Everything integer: signs
      // from the first md5 nibble's parity, squares/sums in
      // DECIMAL(38,0)/HUGEINT (S_j^2 and F2 ~ c_max * N exceed int64
      // past ~sf30 — stated margin; published values are floor-
      // divided to thousands to stay BIGINT at any SF), the error in
      // exact ppm. One corpus pass to token counts; the estimator
      // frame is 16 rows.
      (s, d) => {
        val toks = spread(t(s, d, "documents"))
          .select(explode(split(expr(sparkNorm), " ")).as("tok"))
          .filter(length(col("tok")) > 0)
        val tc = toks.groupBy("tok").agg(count(lit(1)).as("c"))
          .cutLineage()
        def sign(j: Int) =
          s"(1 - 2 * (CAST(conv(substring(md5(concat('$j:', tok)), 1, 1)," +
            s" 16, 10) AS INT) % 2))"
        val ests = (0 until 16).map(j => tc.select(lit(j).as("j"),
            expr(s"CAST(${sign(j)} * c AS BIGINT)").as("sc")))
          .reduce(_ unionByName _)
          .groupBy("j").agg(sum("sc").as("sj"))
          .withColumn("sj2", expr("CAST(sj AS DECIMAL(38,0)) * sj"))
          .withColumn("grp", expr("j div 4"))
          .groupBy("grp").agg(expr("CAST(sum(sj2) div 4 AS DECIMAL(38,0))")
            .as("gmean"))
        val med = ests.select(col("gmean"))
          .agg(expr("element_at(array_sort(collect_list(gmean)), 2)")
            .as("f2_est"))
        val exact = tc.agg(
          expr("sum(CAST(c AS DECIMAL(38,0)) * c)").as("f2_exact"),
          sum("c").as("n_tokens"), count(lit(1)).as("n_vocab"))
        exact.crossJoin(broadcast(med))
          .select(col("n_tokens"), col("n_vocab"),
            expr("CAST(f2_exact div 1000 AS BIGINT)").as("f2_exact_k"),
            expr("CAST(f2_est div 1000 AS BIGINT)").as("f2_est_k"),
            expr("CAST((1000000 * abs(f2_est - f2_exact)) div f2_exact" +
              " AS BIGINT)").as("err_ppm"))
      },
      Some(duckAmsF2Sql)),

    Q("x_periodicity",
      // Exact string periodicity via the border (KMP failure)
      // identity smallest-period p = n - border(n) (fifteenth-
      // proposal #4) — the exact-STRUCTURE complement of
      // x_gopher_repetition's heuristic ratios: a document whose
      // 64-char horizon is k-periodic (p divides n, p < n) is
      // template/boilerplate by construction. The border is stated
      // definition-direct on the bounded horizon — largest b < n with
      // prefix b = suffix b, an O(n^2) row-local filter over
      // sequence(1, n-1) (the x_lz_complexity feasibility discipline:
      // the failure-function fold is the longer-horizon path,
      // declared not attempted). Published per source: docs, bordered
      // docs, exactly-periodic docs, the summed periods/lengths, and
      // mean repetitions (n div p) in ppm.
      (s, d) => {
        spread(t(s, d, "documents"))
          .withColumn("a", expr("substring(regexp_replace(" +
            s"$sparkNorm, '[^\\\\x00-\\\\x7f]', ''), 1, 64)"))
          .withColumn("n", length(col("a")).cast("long"))
          .filter(col("n") >= 2)
          .withColumn("border", expr(
            "CAST(coalesce(array_max(filter(sequence(1, CAST(n AS INT) - 1)," +
              " b -> substring(a, 1, b)" +
              " = substring(a, CAST(n AS INT) - b + 1, b))), 0) AS BIGINT)"))
          .withColumn("p", expr("n - border"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(expr("IF(border > 0, 1L, 0L)")).as("n_bordered"),
            sum(expr("IF(p < n AND n % p = 0, 1L, 0L)")).as("n_periodic"),
            sum("p").as("sum_period"), sum("n").as("sum_len"),
            expr("1000000 * sum(n div p) div count(1)").as("reps_ppm"))
          .orderBy("source")
      },
      Some(s"""WITH dd AS (
                SELECT source, substring(regexp_replace($duckNorm,
                  '[^\\x00-\\x7f]', '', 'g'), 1, 64) AS a
                FROM documents),
              d2 AS (SELECT source, a, CAST(len(a) AS BIGINT) AS n
                     FROM dd WHERE len(a) >= 2),
              pp AS (
                SELECT source, n,
                  CAST(COALESCE(list_max(list_filter(range(1, n),
                    b -> substring(a, 1, CAST(b AS INT))
                      = substring(a, CAST(n - b + 1 AS INT),
                          CAST(b AS INT)))), 0) AS BIGINT) AS border
                FROM d2),
              qq AS (SELECT source, n, border, n - border AS p FROM pp)
              SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN border > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_bordered,
                CAST(sum(CASE WHEN p < n AND n % p = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_periodic,
                CAST(sum(p) AS BIGINT) AS sum_period,
                CAST(sum(n) AS BIGINT) AS sum_len,
                CAST(1000000 * sum(n // p) // count(*) AS BIGINT)
                  AS reps_ppm
              FROM qq GROUP BY source ORDER BY source""")),

    Q("x_bwt_runs",
      // Burrows-Wheeler run count (Burrows & Wheeler 1994; the r of
      // r-indexes, Gagie et al. 2020 — fifteenth-proposal #5): sort
      // all rotations of the sentinel-terminated 64-char horizon,
      // read the last column, count its equal-character runs — the
      // compressibility measure BWT-based systems are built on,
      // published next to the RAW run count so the row shows the
      // transform's clustering gain. The sentinel is chr(9)/tab:
      // lexicographically below every corpus char and impossible in
      // normalized text (whitespace collapses to single spaces), so
      // rotation order is total and engine-identical (both engines
      // compare ASCII bytewise). Row-local ~65x65 char work on the
      // bounded horizon; one corpus pass to the source rollup.
      (s, d) => {
        spread(t(s, d, "documents"))
          .withColumn("a", expr("concat(substring(regexp_replace(" +
            s"$sparkNorm, '[^\\\\x00-\\\\x7f]', ''), 1, 64), char(9))"))
          .withColumn("n", expr("CAST(length(a) AS INT)"))
          .filter(col("n") >= 2)
          .withColumn("bwt", expr(
            "transform(array_sort(transform(sequence(0, n - 1)," +
              " i -> concat(substring(a, i + 1, n - i)," +
              " substring(a, 1, i)))), r -> substring(r, n, 1))"))
          .withColumn("runs_bwt", expr(
            "1 + CAST(size(filter(sequence(2, n), i ->" +
              " element_at(bwt, i) != element_at(bwt, i - 1))) AS BIGINT)"))
          .withColumn("runs_raw", expr(
            "1 + CAST(size(filter(sequence(2, n), i ->" +
              " substring(a, i, 1) != substring(a, i - 1, 1))) AS BIGINT)"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("runs_bwt").as("sum_runs_bwt"),
            sum("runs_raw").as("sum_runs_raw"),
            sum(expr("CAST(n AS BIGINT)")).as("sum_len"),
            expr("1000000 * sum(runs_bwt) div sum(CAST(n AS BIGINT))")
              .as("bwt_density_ppm"),
            expr("1000000 * sum(runs_bwt) div sum(runs_raw)")
              .as("bwt_vs_raw_ppm"))
          .orderBy("source")
      },
      Some(s"""WITH dd AS (
                SELECT source,
                  substring(regexp_replace($duckNorm,
                    '[^\\x00-\\x7f]', '', 'g'), 1, 64) || chr(9) AS a
                FROM documents),
              d2 AS (SELECT source, a, CAST(len(a) AS INT) AS n
                     FROM dd WHERE len(a) >= 2),
              bb AS (
                SELECT source, n,
                  list_transform(list_sort(
                    [substring(a, i + 1, n - i) || substring(a, 1, i)
                     FOR i IN range(n)]),
                    r -> substring(r, n, 1)) AS bwt,
                  a
                FROM d2),
              rr AS (
                SELECT source, n,
                  1 + len(list_filter(range(2, n + 1),
                    i -> bwt[i] != bwt[i - 1])) AS runs_bwt,
                  1 + len(list_filter(range(2, n + 1),
                    i -> substring(a, CAST(i AS INT), 1)
                      != substring(a, CAST(i - 1 AS INT), 1))) AS runs_raw
                FROM bb)
              SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(runs_bwt) AS BIGINT) AS sum_runs_bwt,
                CAST(sum(runs_raw) AS BIGINT) AS sum_runs_raw,
                CAST(sum(n) AS BIGINT) AS sum_len,
                CAST(1000000 * sum(runs_bwt) // sum(n) AS BIGINT)
                  AS bwt_density_ppm,
                CAST(1000000 * sum(runs_bwt) // sum(runs_raw) AS BIGINT)
                  AS bwt_vs_raw_ppm
              FROM rr GROUP BY source ORDER BY source""")),

    Q("x_common_spans",
      // Cross-document longest common substring
      // (functions/SuffixLcs.scala, the automaton family's two-string
      // op — fifteenth-proposal #2): per source, each document's LCS
      // with its doc_id successor over the 32-char ASCII horizon —
      // the adjacent-pair design keeps the pair count LINEAR in the
      // corpus (the blocking discipline; all-pairs LCS is the
      // quadratic trap) while still measuring the shared-boilerplate
      // signal the curation ladder wants. Spark side: automaton of a,
      // one O(|a|+|b|) walk of b per pair, zero intermediate strings.
      // The oracle states the definition — explode BOTH horizons'
      // O(n^2) distinct slices and join on equality, max matching
      // length — so green proves the automaton walk against the
      // slice-set semantics (the x_distinct_substrings recipe, squared).
      (s, d) => {
        val docs = spread(t(s, d, "documents"))
          .withColumn("a", expr("substring(regexp_replace(" +
            s"$sparkNorm, '[^\\\\x00-\\\\x7f]', ''), 1, 32)"))
          .select(col("source"), col("doc_id"), col("a"))
        docs
          .withColumn("b", lead("a", 1).over(
            Window.partitionBy("source").orderBy("doc_id")))
          .filter(col("b").isNotNull &&
            length(col("a")) > 0 && length(col("b")) > 0)
          .withColumn("lcs", expr("suffix_lcs(a, b)"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_pairs"),
            max("lcs").as("max_lcs"),
            sum("lcs").as("sum_lcs"),
            expr("1000000 * sum(lcs) div count(1)").as("mean_lcs_ppm"),
            sum(expr("IF(lcs >= 8, 1L, 0L)")).as("n_sim_pairs"))
          .orderBy("source")
      },
      Some(s"""WITH dd AS (
                SELECT source, doc_id,
                  substring(regexp_replace($duckNorm,
                    '[^\\x00-\\x7f]', '', 'g'), 1, 32) AS a
                FROM documents),
              pr AS (
                SELECT source, doc_id, a,
                  lead(a) OVER (PARTITION BY source ORDER BY doc_id) AS b
                FROM dd),
              pp AS (SELECT source, doc_id, a, b FROM pr
                     WHERE b IS NOT NULL AND len(a) > 0 AND len(b) > 0),
              sa AS (
                SELECT DISTINCT source, doc_id,
                  substring(a, CAST(i AS INT), CAST(L AS INT)) AS sl,
                  L
                FROM pp, UNNEST(range(1, len(a) + 1)) u(i),
                  UNNEST(range(1, len(a) + 1)) w(L)
                WHERE i + L - 1 <= len(a)),
              sb AS (
                SELECT DISTINCT source, doc_id,
                  substring(b, CAST(i AS INT), CAST(L AS INT)) AS sl
                FROM pp, UNNEST(range(1, len(b) + 1)) u(i),
                  UNNEST(range(1, len(b) + 1)) w(L)
                WHERE i + L - 1 <= len(b)),
              j AS (
                SELECT sa.source, sa.doc_id, CAST(max(sa.L) AS BIGINT)
                  AS lcs
                FROM sa JOIN sb ON sa.source = sb.source
                  AND sa.doc_id = sb.doc_id AND sa.sl = sb.sl
                GROUP BY 1, 2),
              lc AS (
                SELECT pp.source, COALESCE(j.lcs, 0) AS lcs
                FROM pp LEFT JOIN j ON j.source = pp.source
                  AND j.doc_id = pp.doc_id)
              SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
                CAST(max(lcs) AS BIGINT) AS max_lcs,
                CAST(sum(lcs) AS BIGINT) AS sum_lcs,
                CAST(1000000 * sum(lcs) // count(*) AS BIGINT)
                  AS mean_lcs_ppm,
                CAST(sum(CASE WHEN lcs >= 8 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_sim_pairs
              FROM lc GROUP BY source ORDER BY source""")),

    Q("x_palindromes",
      // Longest palindromic substring per document (sixteenth-
      // proposal #4) — the symmetric-structure probe of the string
      // family (periodicity reads repetition, BWT reads clustering,
      // this reads mirror structure — natural text almost never
      // exceeds short incidental palindromes, so a long one flags
      // generated/templated content). Stated definition-direct on the
      // 64-char ASCII horizon: every (start, length) slice tested by
      // reverse-equality, O(n^2) row-local (the x_periodicity
      // feasibility discipline — Manacher's O(n) is the declared
      // longer-horizon path, not attempted: a fourth native
      // Expression doesn't carry its weight at a 64-char bound).
      // Published per source: docs, the longest palindrome found,
      // mean length in ppm, and docs with a >= 5-char palindrome.
      (s, d) => {
        spread(t(s, d, "documents"))
          .withColumn("a", expr("substring(regexp_replace(" +
            s"$sparkNorm, '[^\\\\x00-\\\\x7f]', ''), 1, 64)"))
          .withColumn("n", expr("CAST(length(a) AS INT)"))
          .filter(col("n") >= 1)
          .withColumn("lps", expr(
            "CAST(array_max(flatten(transform(sequence(1, n), i ->" +
              " filter(sequence(1, n - i + 1), L ->" +
              " substring(a, i, L) = reverse(substring(a, i, L))))))" +
              " AS BIGINT)"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            max("lps").as("max_lps"),
            expr("1000000 * sum(lps) div count(1)").as("mean_lps_ppm"),
            sum(expr("IF(lps >= 5, 1L, 0L)")).as("n_mirrored"))
          .orderBy("source")
      },
      Some(s"""WITH dd AS (
                SELECT source, substring(regexp_replace($duckNorm,
                  '[^\\x00-\\x7f]', '', 'g'), 1, 64) AS a
                FROM documents),
              d2 AS (SELECT source, a, CAST(len(a) AS BIGINT) AS n
                     FROM dd WHERE len(a) >= 1),
              pp AS (
                SELECT source,
                  CAST(list_max(flatten(
                    [list_filter(range(1, n - i + 2), L ->
                       substring(a, CAST(i AS INT), CAST(L AS INT))
                         = reverse(substring(a, CAST(i AS INT),
                             CAST(L AS INT))))
                     FOR i IN range(1, n + 1)])) AS BIGINT) AS lps
                FROM d2)
              SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(max(lps) AS BIGINT) AS max_lps,
                CAST(1000000 * sum(lps) // count(*) AS BIGINT)
                  AS mean_lps_ppm,
                CAST(sum(CASE WHEN lps >= 5 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_mirrored
              FROM pp GROUP BY source ORDER BY source""")),

    Q("x_doc_containment",
      // Doc-level ASYMMETRIC containment (sixteenth-proposal #2) —
      // the dedup-DIRECTION signal symmetric Jaccard cannot give:
      // per adjacent doc pair (the x_common_spans blocking, linear
      // pair count), |A∩B|/|A| and |A∩B|/|B| over distinct-trigram
      // sets — a near-1 one-sided ratio says THIS document is quoted
      // inside the other (the decontamination family measures this at
      // SOURCE level; curation needs the per-document verdict to pick
      // which copy to keep). Exact integer set arithmetic in ppm; the
      // intersection is one (pair, trigram)-keyed join, never a
      // cross product.
      (s, d) => {
        val docs = spread(t(s, d, "documents"))
          .select(col("source"), col("doc_id"),
            split(expr(sparkNorm), " ").as("toks"))
          .filter(size(col("toks")) > 2)
        val sh = docs.select(col("doc_id"), explode(expr(
            "array_distinct(transform(sequence(0, size(toks) - 3), " +
              "i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))"))
            .as("sg"))
          .cutLineage() // reused three times (A side, B side, counts)
        val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("nsg"))
        val pairs = docs.select(col("source"), col("doc_id").as("aid"))
          .withColumn("bid", lead("aid", 1).over(
            Window.partitionBy("source").orderBy("aid")))
          .filter(col("bid").isNotNull)
        val inter = pairs
          .join(sh.select(col("doc_id").as("aid"), col("sg")), Seq("aid"))
          .join(sh.select(col("doc_id").as("bid"), col("sg")),
            Seq("bid", "sg"))
          .groupBy("aid").agg(count(lit(1)).as("ni"))
        pairs
          .join(cnt.select(col("doc_id").as("aid"), col("nsg").as("na")),
            Seq("aid"))
          .join(cnt.select(col("doc_id").as("bid"), col("nsg").as("nb")),
            Seq("bid"))
          .join(inter, Seq("aid"), "left")
          .withColumn("ni", coalesce(col("ni"), lit(0L)))
          .withColumn("ca", expr("1000000 * ni div na"))
          .withColumn("cb", expr("1000000 * ni div nb"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_pairs"),
            max("ca").as("max_cont_a_ppm"),
            max("cb").as("max_cont_b_ppm"),
            expr("sum(ca) div count(1)").as("mean_cont_a_ppm"),
            sum(expr("IF(greatest(ca, cb) >= 500000, 1L, 0L)"))
              .as("n_onesided"))
          .orderBy("source")
      },
      Some(s"""WITH docs AS (
                SELECT source, doc_id, string_split($duckNorm, ' ') AS toks
                FROM documents),
              d2 AS (SELECT source, doc_id, toks FROM docs
                     WHERE len(toks) > 2),
              sh AS (
                SELECT DISTINCT doc_id, sg FROM (
                  SELECT doc_id,
                    unnest(list_transform(range(1, len(toks) - 1),
                      i -> toks[i] || ' ' || toks[i + 1] || ' '
                        || toks[i + 2])) AS sg
                  FROM d2)),
              cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nsg
                      FROM sh GROUP BY 1),
              pairs AS (
                SELECT source, aid, bid FROM (
                  SELECT source, doc_id AS aid,
                    lead(doc_id) OVER (PARTITION BY source
                      ORDER BY doc_id) AS bid
                  FROM d2)
                WHERE bid IS NOT NULL),
              inter AS (
                SELECT p.aid, CAST(count(*) AS BIGINT) AS ni
                FROM pairs p
                JOIN sh a ON a.doc_id = p.aid
                JOIN sh b ON b.doc_id = p.bid AND b.sg = a.sg
                GROUP BY 1),
              rr AS (
                SELECT p.source,
                  1000000 * COALESCE(i.ni, 0) // ca.nsg AS ca,
                  1000000 * COALESCE(i.ni, 0) // cb.nsg AS cb
                FROM pairs p
                JOIN cnt ca ON ca.doc_id = p.aid
                JOIN cnt cb ON cb.doc_id = p.bid
                LEFT JOIN inter i ON i.aid = p.aid)
              SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
                CAST(max(ca) AS BIGINT) AS max_cont_a_ppm,
                CAST(max(cb) AS BIGINT) AS max_cont_b_ppm,
                CAST(sum(ca) // count(*) AS BIGINT) AS mean_cont_a_ppm,
                CAST(sum(CASE WHEN greatest(ca, cb) >= 500000
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_onesided
              FROM rr GROUP BY source ORDER BY source""")),

    Q("x_weighted_jaccard",
      // Exact weighted (multiset) Jaccard (sixteenth-proposal #3):
      // sum-min over sum-max of the two documents' token COUNT
      // vectors per adjacent pair — the similarity the unweighted
      // trigram Jaccard under-reads on repetitive text (a doc that
      // repeats its twin's vocabulary 5x is unweighted-identical but
      // weighted-distant). The ICWS sketch form stays declared-
      // infeasible (log/exp draws, no integer substitution); this is
      // the exact bounded form: one full-outer (pair, token)-keyed
      // join of the two count vectors, min/max with absent = 0,
      // ppm-exact per pair, source rollup.
      (s, d) => {
        val docs = spread(t(s, d, "documents"))
          .select(col("source"), col("doc_id"),
            split(expr(sparkNorm), " ").as("toks"))
          .filter(size(col("toks")) > 0)
        val tcnt = docs
          .select(col("doc_id"), explode(col("toks")).as("tok"))
          .filter(length(col("tok")) > 0)
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
          .cutLineage()
        val pairs = docs.select(col("source"), col("doc_id").as("aid"))
          .withColumn("bid", lead("aid", 1).over(
            Window.partitionBy("source").orderBy("aid")))
          .filter(col("bid").isNotNull)
        // union of the two count vectors per pair, absent = 0: an
        // A-anchored branch (left join pulls B's count when shared)
        // plus a B-only branch (anti join on the A side) — a single
        // full-outer on (pair, tok) would null the pair key on B-only
        // rows and silently drop their max-side mass
        val aSide = pairs
          .join(tcnt.select(col("doc_id").as("aid"), col("tok"),
            col("c").as("ca")), Seq("aid"))
          .join(tcnt.select(col("doc_id").as("bid"), col("tok"),
            col("c").as("cb")), Seq("bid", "tok"), "left")
          .select(col("source"), col("aid"), col("ca"),
            coalesce(col("cb"), lit(0L)).as("cb"))
        val bOnly = pairs
          .join(tcnt.select(col("doc_id").as("bid"), col("tok"),
            col("c").as("cb")), Seq("bid"))
          .join(tcnt.select(col("doc_id").as("aid"), col("tok")),
            Seq("aid", "tok"), "left_anti")
          .select(col("source"), col("aid"), lit(0L).as("ca"), col("cb"))
        val perPair = aSide.unionByName(bOnly)
          .groupBy("source", "aid")
          .agg(sum(expr("least(ca, cb)")).as("smin"),
            sum(expr("greatest(ca, cb)")).as("smax"))
          .withColumn("wj_ppm", expr(
            "IF(smax IS NULL OR smax = 0, 0L, 1000000 * smin div smax)"))
        perPair.groupBy("source")
          .agg(count(lit(1)).as("n_pairs"),
            max("wj_ppm").as("max_wj_ppm"),
            expr("sum(wj_ppm) div count(1)").as("mean_wj_ppm"),
            sum(expr("IF(wj_ppm >= 500000, 1L, 0L)")).as("n_close"))
          .orderBy("source")
      },
      Some(s"""WITH docs AS (
                SELECT source, doc_id, string_split($duckNorm, ' ') AS toks
                FROM documents),
              d2 AS (SELECT source, doc_id FROM docs WHERE len(toks) > 0),
              tcnt AS (
                SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
                FROM (SELECT doc_id, unnest(toks) AS tok FROM docs)
                WHERE len(tok) > 0 GROUP BY 1, 2),
              pairs AS (
                SELECT source, aid, bid FROM (
                  SELECT source, doc_id AS aid,
                    lead(doc_id) OVER (PARTITION BY source
                      ORDER BY doc_id) AS bid
                  FROM d2)
                WHERE bid IS NOT NULL),
              uni AS (
                SELECT p.source, p.aid,
                  COALESCE(a.c, 0) AS ca, COALESCE(b.c, 0) AS cb
                FROM pairs p
                JOIN tcnt a ON a.doc_id = p.aid
                LEFT JOIN tcnt b ON b.doc_id = p.bid AND b.tok = a.tok
                UNION ALL
                SELECT p.source, p.aid, 0, b.c
                FROM pairs p
                JOIN tcnt b ON b.doc_id = p.bid
                WHERE NOT EXISTS (SELECT 1 FROM tcnt a
                  WHERE a.doc_id = p.aid AND a.tok = b.tok)),
              pp AS (
                SELECT source, aid,
                  sum(least(ca, cb)) AS smin,
                  sum(greatest(ca, cb)) AS smax
                FROM uni GROUP BY 1, 2),
              rr AS (
                SELECT source, CASE WHEN smax = 0 THEN 0
                  ELSE 1000000 * smin // smax END AS wj_ppm
                FROM pp)
              SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
                CAST(max(wj_ppm) AS BIGINT) AS max_wj_ppm,
                CAST(sum(wj_ppm) // count(*) AS BIGINT) AS mean_wj_ppm,
                CAST(sum(CASE WHEN wj_ppm >= 500000 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_close
              FROM rr GROUP BY source ORDER BY source"""))
  )

  /** Needle vocabulary for `x_multi_replace` — the array index IS the
    * published count column (c_the, c_the_sp, c_and, c_with, c_from).
    * Chosen for the provable chain-equivalence precondition in the
    * query's plan note: zero cross-needle overlaps in ANY text, one
    * nested-prefix pair exercising the longest rule. */
  private lazy val mrNeedles = Seq("the", "the ", "and ", "with ", "from ")

  /** DuckDB twin of `x_multi_replace`: the longest-first sequential
    * replace() chain (equal to leftmost-longest under the vocabulary
    * precondition), per-needle counts from length deltas BEFORE any
    * rewrite, and the same md5-prefix fingerprint of the rewritten
    * text (hex nibbles to BIGINT, the x_rendezvous_shards recipe). */
  private def duckMultiReplaceSql: String = {
    val nib = (e: String) => (1 to 12).map(i =>
      s"(strpos('0123456789abcdef', substring($e, $i, 1)) - 1) * ${1L << (4 * (12 - i))}")
      .mkString("CAST(", " + ", " AS BIGINT)")
    def occ(nd: String) =
      s"(len(norm) - len(replace(norm, '$nd', ''))) // ${nd.length}"
    s"""WITH n AS (SELECT source, $duckNorm AS norm FROM documents),
        r AS (SELECT source, norm,
            replace(replace(replace(replace(replace(norm,
              'with ', '_'), 'from ', '_'), 'the ', '_'), 'and ', '_'),
              'the', '_') AS rew
          FROM n),
        c AS (SELECT source, rew,
            ${occ("the")} - ${occ("the ")} AS c_the,
            ${occ("the ")} AS c_the_sp,
            ${occ("and ")} AS c_and,
            ${occ("with ")} AS c_with,
            ${occ("from ")} AS c_from
          FROM r)
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(c_the) AS BIGINT) AS c_the,
          CAST(sum(c_the_sp) AS BIGINT) AS c_the_sp,
          CAST(sum(c_and) AS BIGINT) AS c_and,
          CAST(sum(c_with) AS BIGINT) AS c_with,
          CAST(sum(c_from) AS BIGINT) AS c_from,
          CAST(sum(len(rew)) AS BIGINT) AS sum_new_len,
          CAST(sum(${nib("md5(rew)")}) AS BIGINT) AS rew_fp
        FROM c GROUP BY source ORDER BY source"""
  }

  /** DuckDB twin of `x_count_min`: the identical relational 4x256
    * sketch (md5-nibble cells, the x_rendezvous_shards hex-to-BIGINT
    * recipe), generated from the same row/width constants. */
  private def duckCountMinSql: String = {
    val nib = (e: String) => (1 to 12).map(i =>
      s"(strpos('0123456789abcdef', substring($e, $i, 1)) - 1) * ${1L << (4 * (12 - i))}")
      .mkString("CAST(", " + ", " AS BIGINT)")
    def cell(r: Int) = s"${nib(s"md5('$r:' || tok)")} % 256"
    val cellBlocks = (0 until 4).map(r =>
      s"SELECT $r AS r, ${cell(r)} AS cl, c FROM tc").mkString(" UNION ALL ")
    val probeBlocks = (0 until 4).map(r =>
      s"SELECT tok, c_exact, $r AS r, ${cell(r)} AS cl FROM top")
      .mkString(" UNION ALL ")
    s"""WITH toks AS (SELECT unnest(string_split($duckNorm, ' ')) AS tok
                      FROM documents),
        tc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks
               WHERE len(tok) > 0 GROUP BY 1),
        cells AS (SELECT r, cl, CAST(sum(c) AS BIGINT) AS cc
                  FROM ($cellBlocks) GROUP BY r, cl),
        top AS (SELECT tok, c AS c_exact FROM tc
                ORDER BY c DESC, tok LIMIT 20),
        probes AS ($probeBlocks)
        SELECT p.tok, p.c_exact, CAST(min(cc) AS BIGINT) AS c_est,
          CAST(min(cc) - p.c_exact AS BIGINT) AS overcount
        FROM probes p JOIN cells USING (r, cl)
        GROUP BY p.tok, p.c_exact
        ORDER BY c_exact DESC, tok"""
  }

  /** DuckDB twin of `x_ams_f2`: 16 md5-parity sign estimators, squares
    * and sums in HUGEINT, lower-median of the 4 group means. */
  private def duckAmsF2Sql: String = {
    def sgn(j: Int) =
      s"(1 - 2 * ((strpos('0123456789abcdef'," +
        s" substring(md5('$j:' || tok), 1, 1)) - 1) % 2))"
    val estBlocks = (0 until 16).map(j =>
      s"SELECT $j AS j, CAST(${sgn(j)} * c AS BIGINT) AS sc FROM tc")
      .mkString(" UNION ALL ")
    s"""WITH toks AS (SELECT unnest(string_split($duckNorm, ' ')) AS tok
                      FROM documents),
        tc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks
               WHERE len(tok) > 0 GROUP BY 1),
        sj AS (SELECT j, CAST(sum(sc) AS BIGINT) AS sj
               FROM ($estBlocks) GROUP BY j),
        gm AS (SELECT j // 4 AS grp,
                 CAST(sum(CAST(sj AS HUGEINT) * sj) // 4 AS HUGEINT)
                   AS gmean
               FROM sj GROUP BY 1),
        med AS (SELECT (list_sort(list(gmean)))[2] AS f2_est FROM gm),
        ex AS (SELECT CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT)
                 AS f2_exact,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_vocab FROM tc)
        SELECT n_tokens, n_vocab,
          CAST(f2_exact // 1000 AS BIGINT) AS f2_exact_k,
          CAST(f2_est // 1000 AS BIGINT) AS f2_est_k,
          CAST((1000000 * abs(f2_est - f2_exact)) // f2_exact AS BIGINT)
            AS err_ppm
        FROM ex, med"""
  }

  /** Needle vocabulary for `x_aho_corasick` — overlap structure chosen
    * to exercise dictionary suffix links and overlapping occurrences
    * (see the query's plan note). Shared with the generated oracle so
    * the two sides can never drift. */
  private lazy val acNeedles =
    Seq("scan", "can", "an", "slow", "low", "spark", "par", "row", "a a")

  /** DuckDB twin of `x_aho_corasick`, GENERATED from [[acNeedles]]: one
    * naive pass per needle — count every character start position where
    * the k-char slice equals the needle (overlapping-correct, unlike a
    * replace()-based count), then the same per-(source, needle) rollup. */
  private def duckAhoCorasickSql: String = {
    val blocks = acNeedles.map { nd =>
      val k = nd.length
      s"""SELECT source, '$nd' AS needle,
            CAST(len(list_filter(range(1, len(norm) - $k + 2),
              i -> substring(norm, CAST(i AS INT), $k) = '$nd')) AS BIGINT)
              AS cnt
          FROM n"""
    }
    s"""WITH n AS (SELECT source, $duckNorm AS norm FROM documents),
        hits AS (${blocks.mkString(" UNION ALL ")})
        SELECT source, needle,
          CAST(sum(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_docs_hit,
          CAST(sum(cnt) AS BIGINT) AS n_hits
        FROM hits GROUP BY source, needle ORDER BY source, needle"""
  }

  /** Staged budgeted-coverage oracle: trigram incidence + n_chars
    * costs, `rounds` unrolled cost-benefit picks (ratio ppm DESC, gain
    * DESC, item — the Spark argmax struct's order), affordability
    * filter against a 1-row budget table that each pick decrements. */
  private def duckBudgetedCoverageSql(budget: Long, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""CREATE OR REPLACE TEMP TABLE bc_pick AS
          SELECT m.item, CAST(m.gain AS BIGINT) AS gain,
            CAST(c.cost AS BIGINT) AS cost
          FROM (SELECT item, count(*) AS gain FROM bc_rem GROUP BY item) m
          JOIN bc_cost c ON c.item = m.item, bc_bud b
          WHERE c.cost <= b.bud AND m.gain > 0
          ORDER BY 1000000 * m.gain // c.cost DESC, m.gain DESC, m.item
          LIMIT 1;
          CREATE OR REPLACE TEMP TABLE bc_cov2 AS
          SELECT element FROM bc_cov
          UNION
          SELECT r.element FROM bc_rem r JOIN bc_pick p ON r.item = p.item;
          CREATE OR REPLACE TEMP TABLE bc_bud2 AS
          SELECT b.bud - coalesce((SELECT cost FROM bc_pick), 0) AS bud
          FROM bc_bud b;
          INSERT INTO bc_out
          SELECT $i, item, gain, cost, (SELECT bud FROM bc_bud2),
            (SELECT count(*) FROM bc_cov2)
          FROM bc_pick;
          CREATE OR REPLACE TEMP TABLE bc_bud AS SELECT * FROM bc_bud2;
          CREATE OR REPLACE TEMP TABLE bc_cov AS SELECT * FROM bc_cov2;
          CREATE OR REPLACE TEMP TABLE bc_rem2 AS
          SELECT i.item, i.element FROM bc_rem i
          WHERE NOT EXISTS (SELECT 1 FROM bc_cov c
                            WHERE c.element = i.element);
          CREATE OR REPLACE TEMP TABLE bc_rem AS SELECT * FROM bc_rem2;"""
    }.mkString("\n")
    s"""CREATE OR REPLACE TEMP TABLE bc_inc AS
        SELECT DISTINCT doc_id AS item, g AS element FROM (
          SELECT doc_id,
            unnest(list_transform(range(1, len(toks) - 1),
              i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS g
          FROM (SELECT doc_id, string_split($duckNorm, ' ') AS toks
                FROM documents)
          WHERE len(toks) > 2);
        CREATE OR REPLACE TEMP TABLE bc_cost AS
        SELECT doc_id AS item, CAST(n_chars AS BIGINT) AS cost
        FROM documents;
        CREATE OR REPLACE TEMP TABLE bc_rem AS SELECT * FROM bc_inc;
        CREATE OR REPLACE TEMP TABLE bc_cov AS
        SELECT element FROM bc_inc WHERE false;
        CREATE OR REPLACE TEMP TABLE bc_bud AS
        SELECT CAST($budget AS BIGINT) AS bud;
        CREATE OR REPLACE TEMP TABLE bc_out (
          rank INT, doc_id BIGINT, gain BIGINT, cost BIGINT,
          budget_left BIGINT, covered_total BIGINT);
        $steps
        SELECT rank, doc_id, gain, cost, budget_left, covered_total
        FROM bc_out ORDER BY rank"""
  }

  /** Staged greedy max-coverage oracle: the same trigram incidence,
    * `rounds` unrolled pick/cover/restrict steps through temp tables,
    * argmax by ORDER BY gain DESC, item LIMIT 1 (ties to the least
    * doc — the Spark side's max(struct(gain, -item)) convention). */
  private def duckMaxCoverageSql(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""CREATE OR REPLACE TEMP TABLE mc_pick AS
          SELECT item, CAST(gain AS BIGINT) AS gain FROM (
            SELECT item, count(*) AS gain FROM mc_rem GROUP BY item)
          ORDER BY gain DESC, item LIMIT 1;
          CREATE OR REPLACE TEMP TABLE mc_cov2 AS
          SELECT element FROM mc_cov
          UNION
          SELECT r.element FROM mc_rem r JOIN mc_pick p ON r.item = p.item;
          INSERT INTO mc_out
          SELECT $i, item, gain, (SELECT count(*) FROM mc_cov2)
          FROM mc_pick WHERE gain > 0;
          CREATE OR REPLACE TEMP TABLE mc_cov AS SELECT * FROM mc_cov2;
          CREATE OR REPLACE TEMP TABLE mc_rem2 AS
          SELECT i.item, i.element FROM mc_rem i
          WHERE NOT EXISTS (SELECT 1 FROM mc_cov c
                            WHERE c.element = i.element);
          CREATE OR REPLACE TEMP TABLE mc_rem AS SELECT * FROM mc_rem2;"""
    }.mkString("\n")
    s"""CREATE OR REPLACE TEMP TABLE mc_inc AS
        SELECT DISTINCT doc_id AS item, g AS element FROM (
          SELECT doc_id,
            unnest(list_transform(range(1, len(toks) - 1),
              i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS g
          FROM (SELECT doc_id, string_split($duckNorm, ' ') AS toks
                FROM documents)
          WHERE len(toks) > 2);
        CREATE OR REPLACE TEMP TABLE mc_rem AS SELECT * FROM mc_inc;
        CREATE OR REPLACE TEMP TABLE mc_cov AS
        SELECT element FROM mc_inc WHERE false;
        CREATE OR REPLACE TEMP TABLE mc_out (
          rank INT, doc_id BIGINT, gain BIGINT, covered_total BIGINT);
        $steps
        SELECT rank, doc_id, gain, covered_total FROM mc_out
        ORDER BY rank"""
  }

  /** DuckDB twin of the x_em_linkage EM loop, GENERATED from the same
    * gamma list and iteration count as the Spark side so the two cannot
    * drift: the blocking/pattern CTEs mirror the capped multi-pass
    * blocking, then one (e_i, p_i) CTE pair per EM iteration replays
    * [[graft.operators.RecordLinkage.emPpm]]'s fixed-tree E-step and
    * BIGINT M-step verbatim (only dialect differs: `//` for `div`). */
  private def duckEmLinkageSql: String = {
    val gs = Seq("g1", "g2", "g3", "g4")
    val iters = 5
    def rppm = {
      def side(pref: String, first: String) =
        (first +: gs.map(g =>
          s"(CASE WHEN $g = 1 THEN ${pref}_$g ELSE 1000000 - ${pref}_$g END / 1.0e6)"))
          .mkString("(", " * ", ")")
      val fm = side("m", "(lam / 1.0e6)")
      val fu = side("u", "((1000000 - lam) / 1.0e6)")
      s"greatest(1, least(999999, " +
        s"CAST(floor(1000000 * ($fm / ($fm + $fu)) + 0.5) AS BIGINT)))"
    }
    def mstep = {
      def clamp(x: String) = s"greatest(1000, least(999000, CAST($x AS BIGINT)))"
      val lam = clamp("sum(n * r_ppm) // sum(n)") + " AS lam"
      val ms = gs.map(g => clamp(
        s"(1000000 * sum(n * r_ppm * $g)) // sum(n * r_ppm)") + s" AS m_$g")
      val us = gs.map(g => clamp(
        s"(1000000 * sum(n * (1000000 - r_ppm) * $g)) // " +
          s"sum(n * (1000000 - r_ppm))") + s" AS u_$g")
      (lam +: (ms ++ us)).mkString(", ")
    }
    val emCtes = (1 to iters).map { i =>
      s"""e$i AS (SELECT pat.*, $rppm AS r_ppm FROM pat, p${i - 1}),
         p$i AS (SELECT $mstep FROM e$i)"""
    }.mkString(",\n")
    val p0 = (Seq("CAST(100000 AS BIGINT) AS lam") ++
      gs.map(g => s"CAST(900000 AS BIGINT) AS m_$g") ++
      gs.map(g => s"CAST(100000 AS BIGINT) AS u_$g")).mkString(", ")
    s"""WITH k AS MATERIALIZED (
          SELECT doc_id, lang, source, n_chars,
            toks[1] || ' ' || toks[2] AS pk,
            toks[-2] || ' ' || toks[-1] AS sk,
            toks[-3] || ' ' || toks[-2] || ' ' || toks[-1] AS sfx
          FROM (SELECT doc_id, lang, source, n_chars,
                  string_split($duckNorm, ' ') AS toks FROM documents)
          WHERE len(toks) >= 3),
        cp AS (SELECT bk, doc_id FROM (
            SELECT pk AS bk, doc_id, row_number() OVER (
                PARTITION BY pk ORDER BY doc_id) AS rn FROM k)
          WHERE rn <= 32),
        cs AS (SELECT bk, doc_id FROM (
            SELECT sk AS bk, doc_id, row_number() OVER (
                PARTITION BY sk ORDER BY doc_id) AS rn FROM k)
          WHERE rn <= 32),
        pairs AS (
          SELECT DISTINCT ida, idb FROM (
            SELECT a.doc_id AS ida, b.doc_id AS idb
            FROM cp a JOIN cp b ON a.bk = b.bk AND a.doc_id < b.doc_id
            UNION
            SELECT a.doc_id, b.doc_id
            FROM cs a JOIN cs b ON a.bk = b.bk AND a.doc_id < b.doc_id)),
        pat AS MATERIALIZED (
          SELECT g1, g2, g3, g4, CAST(count(*) AS BIGINT) AS n FROM (
            SELECT
              CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS g1,
              CASE WHEN abs(a.n_chars - b.n_chars) * 10 <=
                least(a.n_chars, b.n_chars) THEN 1 ELSE 0 END AS g2,
              CASE WHEN a.lang = b.lang THEN 1 ELSE 0 END AS g3,
              CASE WHEN a.sfx = b.sfx THEN 1 ELSE 0 END AS g4
            FROM pairs JOIN k a ON a.doc_id = ida
              JOIN k b ON b.doc_id = idb)
          GROUP BY 1, 2, 3, 4),
        p0 AS (SELECT $p0),
        $emCtes,
        ef AS (SELECT pat.*, $rppm AS r_ppm FROM pat, p$iters)
        SELECT ef.g1, ef.g2, ef.g3, ef.g4, ef.n AS n_pairs, ef.r_ppm,
          lam AS lam_ppm,
          m_g1 AS m1_ppm, m_g2 AS m2_ppm, m_g3 AS m3_ppm, m_g4 AS m4_ppm,
          u_g1 AS u1_ppm, u_g2 AS u2_ppm, u_g3 AS u3_ppm, u_g4 AS u4_ppm
        FROM ef, p$iters
        ORDER BY ef.g1, ef.g2, ef.g3, ef.g4"""
  }

  /** DuckDB twin of the [[graft.operators.UnigramLM]] two-round EM loop,
    * GENERATED from the same constants (MaxLen/MaxPiece/TopMulti) so the
    * two sides cannot drift: the per-word Viterbi that Spark runs as a
    * row-local `aggregate` fold unrolls here into one MATERIALIZED CTE
    * per position per direction per round (f{r}_j / g{r}_j, j=0..16) —
    * MATERIALIZED is load-bearing: each rung is referenced by up to
    * MaxPiece later rungs plus the union CTEs, and inlining would
    * re-expand the chain exponentially. All integers end-to-end
    * (floor-log2 = length(bin(x)) - 1), so the hash compare is exact. */
  private def duckUnigramCtes: String = {
    val L = graft.operators.UnigramLM.MaxLen
    val P = graft.operators.UnigramLM.MaxPiece
    val M = graft.operators.UnigramLM.TopMulti
    val B = graft.operators.UnigramLM.PieceBase
    def scoreCte(r: Int, v: String) =
      s"""sc$r AS MATERIALIZED (
            SELECT piece, plen,
              CAST(((1 + (length(bin(T)) - 1) - (length(bin(cnt)) - 1))
                * $B + 1) AS BIGINT) AS score
            FROM $v, (SELECT CAST(sum(cnt) AS BIGINT) AS T FROM $v) tt)"""
    def roundCtes(r: Int): String = {
      val f = (1 to L).map { j =>
        val branches = (1 to math.min(P, j)).map { pl =>
          s"""SELECT f.w, f.v + m.score AS v
              FROM f${r}_${j - pl} f JOIN m$r m
                ON m.w = f.w AND m.st = ${j - pl + 1} AND m.pl = $pl"""
        }.mkString("\n UNION ALL\n")
        s"f${r}_$j AS MATERIALIZED (SELECT w, min(v) AS v FROM (\n$branches\n) GROUP BY w)"
      }
      val g = (1 to L).map { rr =>
        val branches = (1 to math.min(P, rr)).map { pl =>
          s"""SELECT g.w, g.v + m.score AS v
              FROM g${r}_${rr - pl} g JOIN m$r m
                ON m.w = g.w AND m.st = m.L - $rr + 1 AND m.pl = $pl"""
        }.mkString("\n UNION ALL\n")
        s"g${r}_$rr AS MATERIALIZED (SELECT w, min(v) AS v FROM (\n$branches\n) GROUP BY w)"
      }
      val tot = (1 to L).map(j =>
        s"SELECT f.w, f.v FROM f${r}_$j f JOIN w0t t ON t.w = f.w AND t.L = $j")
        .mkString("\n UNION ALL\n")
      val fall = (0 to L).map(j => s"SELECT w, $j AS j, v FROM f${r}_$j")
        .mkString("\n UNION ALL\n")
      val gall = (0 to L).map(rr => s"SELECT w, $rr AS r, v FROM g${r}_$rr")
        .mkString("\n UNION ALL\n")
      s"""m$r AS MATERIALIZED (
            SELECT o.w, o.L, o.st, o.pl, o.piece, s.score
            FROM occ o JOIN sc$r s ON s.piece = o.piece AND s.plen = o.pl),
          f${r}_0 AS MATERIALIZED (SELECT w, CAST(0 AS BIGINT) AS v FROM w0t),
          g${r}_0 AS MATERIALIZED (SELECT w, CAST(0 AS BIGINT) AS v FROM w0t),
          ${(f ++ g).mkString(",\n")},
          tot$r AS MATERIALIZED (\n$tot\n),
          fall$r AS MATERIALIZED (\n$fall\n),
          gall$r AS MATERIALIZED (\n$gall\n),
          u$r AS MATERIALIZED (
            SELECT m.piece, m.pl AS plen, CAST(sum(t.freq) AS BIGINT) AS use$r
            FROM m$r m
              JOIN fall$r f ON f.w = m.w AND f.j = m.st - 1
              JOIN gall$r g ON g.w = m.w AND g.r = m.L - m.st - m.pl + 1
              JOIN tot$r tt ON tt.w = m.w
              JOIN w0t t ON t.w = m.w
            WHERE f.v + m.score + g.v = tt.v
            GROUP BY m.piece, m.pl)"""
    }
    s"""wpd AS MATERIALIZED (
          SELECT doc_id, substr(w0, 1, $L) AS w
          FROM (SELECT doc_id, unnest(regexp_extract_all(a, '[a-z]+')) AS w0
                FROM (SELECT doc_id,
                        regexp_replace($duckNorm, '[^\\x00-\\x7f]', '', 'g') AS a
                      FROM documents))),
        w0t AS MATERIALIZED (
          SELECT w, CAST(count(*) AS BIGINT) AS freq, length(w) AS L
          FROM wpd GROUP BY w),
        occ AS MATERIALIZED (
          SELECT w, freq, L, CAST(st0 AS INT) AS st, CAST(pl0 AS INT) AS pl,
            substr(w, CAST(st0 AS INT), CAST(pl0 AS INT)) AS piece
          FROM w0t, UNNEST(range(1, L + 1)) AS s(st0),
            UNNEST(range(1, ${P + 1})) AS p(pl0)
          WHERE pl0 <= L - st0 + 1),
        cnts AS (SELECT piece, pl AS plen, CAST(sum(freq) AS BIGINT) AS cnt
                 FROM occ GROUP BY piece, pl),
        v0 AS MATERIALIZED (
          SELECT piece, plen, cnt FROM cnts WHERE plen = 1
          UNION ALL
          SELECT piece, plen, cnt FROM
            (SELECT * FROM cnts WHERE plen > 1
             ORDER BY cnt DESC, piece LIMIT $M)),
        ${scoreCte(1, "v0")},
        ${roundCtes(1)},
        v1 AS MATERIALIZED (
          SELECT v0.piece, v0.plen,
            CAST(CASE WHEN v0.plen = 1 THEN coalesce(u1.use1, 0) + 1
                      ELSE u1.use1 END AS BIGINT) AS cnt
          FROM v0 LEFT JOIN u1 ON u1.piece = v0.piece AND u1.plen = v0.plen
          WHERE v0.plen = 1 OR coalesce(u1.use1, 0) >= 1),
        ${scoreCte(2, "v1")},
        ${roundCtes(2)}"""
  }

  /** The repeated-span table shared by `x_repeated_spans` and
    * `x_dup_span_fraction`: (doc_id, span_start, span_end) of maximal
    * runs of corpus-repeated token 8-gram start positions. See the
    * `x_repeated_spans` comment for the shape argument. */
  private def repeatedSpanTable(
      s: org.apache.spark.sql.SparkSession, d: String) = {
    val K = 8
    val grams = spread(t(s, d, "documents"))
      .withColumn("a", expr(s"split($sparkNorm, ' ')"))
      .filter(expr(s"size(a) >= $K"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(a) - $K),"
          + s" i -> xxhash64(concat_ws(' ', slice(a, i + 1, $K))))"))
        .as(Seq("pos", "h")))
      .cutLineage() // both the dup-gram agg and the semi-join probe
    val dup = grams.groupBy("h").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select("h")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    grams.join(dup, Seq("h"), "left_semi")
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("span_start"),
        (max(col("pos")) + lit(K - 1)).as("span_end"))
      .select("doc_id", "span_start", "span_end")
  }

  /** DuckDB twin of [[repeatedSpanTable]], ending in a `spans` CTE. */
  private def duckSpansCte: String =
    s"""toks AS (
         SELECT doc_id, string_split($duckNorm, ' ') AS a FROM documents),
       grams AS MATERIALIZED (
         SELECT doc_id, CAST(i AS INT) AS pos,
           array_to_string(
             list_slice(a, CAST(i + 1 AS INT), CAST(i + 8 AS INT)), ' ') AS g
         FROM toks, UNNEST(range(0, len(a) - 7)) AS t(i)
         WHERE len(a) >= 8),
       dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
       isl AS (
         SELECT doc_id, pos,
           pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         FROM grams WHERE g IN (SELECT g FROM dup)),
       spans AS (SELECT doc_id, min(pos) AS span_start,
                   max(pos) + 7 AS span_end
                 FROM isl GROUP BY doc_id, grp)"""

  /** The planted-PII text, as one SQL concat expression valid on both
    * engines modulo the numeric->string cast (Spark `cast(x as string)`,
    * DuckDB `CAST(x AS VARCHAR)`), injected via `cast`. Layout:
    *   Contact <real email> or <ip-shaped-local email>[ from <ip>][ call <phone>]
    * The underscore in n_name is stripped because '_' is (correctly) not
    * in the email DOMAIN class, and the trap email's local part is four
    * dotted octets so the email-before-IP ordering is observable in the
    * output: run the IP rule first and the text becomes `<IP>@mailhost.net`. */
  private def piiPlantSql(cast: String => String): String = {
    def c(x: String) = cast(x)
    Seq(
      "'Contact '",
      "lower(replace(c_name, '#', '.'))", "'@'",
      "replace(lower(n_name), '_', '')", "'.com'",
      "' or '",
      c("c_custkey % 200"), "'.'", c("c_custkey % 250"), "'.'",
      c("c_custkey % 100"), "'.'", c("c_custkey % 50"), "'@mailhost.net'",
      "(CASE WHEN c_custkey % 5 = 0 THEN ' from nowhere' ELSE " +
        s"' from 10.' || ${c("c_custkey % 256")} || '.' || ${c("c_nationkey")} " +
        s"|| '.' || ${c("c_custkey % 100")} END)",
      "(CASE WHEN c_custkey % 3 = 0 THEN ' call later' ELSE " +
        s"' call +' || ${c("1 + c_custkey % 9")} || ' (' || " +
        s"lpad(${c("c_custkey % 1000")}, 3, '0') || ') ' || " +
        s"${c("100 + c_custkey % 900")} || '-' || " +
        s"lpad(${c("c_custkey % 10000")}, 4, '0') END)"
    ).mkString(" || ")
  }

  /** DuckDB twin of [[graft.operators.Curation.redactPii]], GENERATED from
    * the production `PiiPatterns` so pattern text, order, and the
    * count-on-progressively-redacted-text semantics stay in lockstep: one
    * CTE per pattern, each replacing globally and counting matches on the
    * PREVIOUS step's text (len(regexp_extract_all)), summed into n_pii. */
  private def duckRedactSql: String = {
    val pats = graft.operators.Curation.PiiPatterns
    val steps = pats.zipWithIndex.map { case ((pat, tok), i) =>
      s"""r${i + 1} AS (
            SELECT c_custkey,
              regexp_replace(t$i, '$pat', '$tok', 'g') AS t${i + 1},
              n$i + len(regexp_extract_all(t$i, '$pat')) AS n${i + 1}
            FROM r$i)"""
    }
    val n = pats.size
    s"""WITH r0 AS (
          SELECT c_custkey,
            ${piiPlantSql(x => s"CAST($x AS VARCHAR)")} AS t0, 0 AS n0
          FROM customer JOIN nation ON c_nationkey = n_nationkey),
        ${steps.mkString(",\n")}
        SELECT c_custkey, t$n AS text_redacted, CAST(n$n AS INT) AS n_pii
        FROM r$n ORDER BY c_custkey"""
  }

  /** Banded SimHash near-dup candidate pairs (hamming <= 8) — the pair
    * graph shared by `x_simhash_neardup` and `x_dedup_clusters`.
    *
    * Pairing is BANDED, not all-pairs (round-1 verdict: the per-source
    * all-pairs join is O(n^2/sources)): the 63 bits split into 9 bands
    * of 7; by pigeonhole, two signatures within hamming 8 differ in at
    * most 8 bands, so they MUST agree on at least one of the 9 — the
    * banded join + exact hamming post-filter returns the identical row
    * set as all-pairs, which is why the DuckDB oracle can stay naive.
    * Each band key has 128 values, so per-(source, band) buckets stay
    * small at scale; the hamming distance is ONE codegen'd expression,
    * bit_count(a ^ b) (no UDF).
    */
  private def simhashNearDupPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    // Banded pigeonhole pairing + first-matching-band emission — the
    // DataFrame-level implementation lives in operators.Curation (shared
    // with the end-to-end curation pipeline); this wrapper only binds the
    // test table. See Curation.simhashNearDupPairs for the plan notes.
    graft.operators.Curation.simhashNearDupPairs(spread(t(s, d, "documents")))
}
