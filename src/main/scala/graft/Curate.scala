package graft

import org.apache.spark.sql.SparkSession

/** Corpus-curation CLI — the M6 product face of
  * [[graft.operators.Curation]]: read a documents parquet (doc_id,
  * source, text, ...), run quality gate -> exact dedup -> near-dup
  * dedup -> context-window chunking, write the curated corpus + chunks,
  * and print the per-stage funnel (S17-style verification counts).
  *
  * Usage:
  *   runMain graft.Curate <documentsParquet> <outDir>
  *     [--min-tokens N] [--max-dup-frac F] [--min-alpha-frac F]
  *     [--win N] [--stride N]
  *     [--eval PATH [--min-shared N] [--ngram N] [--bloom]]
  *     [--mix src:w,src:w,... --token-budget N] [--redact-pii]
  *     [--line-filter [--min-line-words N] [--min-lines N]]
  *     [--chunk-dedup [--chunk-tokens N]] [--manifest [--shards N]]
  *
  * `--eval PATH` additionally decontaminates against a held-out eval
  * parquet (drops curated docs sharing >= min-shared distinct word
  * n-grams with it, --ngram tokens wide, default trigrams) before
  * chunking. `--bloom` routes the same decision through the
  * Bloom-prefiltered plan (row-identical output; the shape to pick
  * when the eval shingle set is too big to broadcast).
  *
  * `--mix src0:0.5,src1:0.3 --token-budget N` applies the deterministic
  * data-mixture selection (Curation.mixtureSelect) to the curated
  * survivors: each listed source gets round(w * N) tokens, unlisted
  * sources are dropped, and only the selected mix is chunked.
  *
  * Writes: <outDir>/curated (surviving docs), <outDir>/chunks
  * (chunk_text rows ready for tokenization), <outDir>/stats.
  */
object Curate {
  def main(args: Array[String]): Unit = {
    val spark = Graft.session()
    try run(spark, args) finally spark.stop()
  }

  /** CLI body against a caller-owned session (e2e-testable). */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Curate <documentsParquet> <outDir> [flags]")
    val Array(docsPath, outDir) = args.take(2)
    val flags = args.drop(2).toSeq
    def flagValue(name: String): Option[String] =
      flags.sliding(2).collectFirst { case Seq(`name`, v) if !v.startsWith("--") => v }

    // --timings: measurement mode for scale evidence (SCALE.md §2c).
    // Each stage is pinned and counted as it is built, so the recorded
    // seconds are the stage's OWN increment (its inputs are already
    // materialized in the pin), not the whole prefix re-run. Off by
    // default: production runs keep the fused lazy plan.
    val timed = flags.contains("--timings")
    val stageTimes = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Long)]
    def stage(name: String)(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame =
      if (!timed) df
      else {
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val t0 = System.nanoTime()
        val n = df.count()
        val secs = (System.nanoTime() - t0) / 1e9
        stageTimes += ((name, secs, n))
        println(f"[curate] stage $name%-22s ${secs}%8.2fs $n%9d rows")
        df
      }
    def timeIt[A](name: String)(f: => A): A =
      if (!timed) f
      else {
        val t0 = System.nanoTime()
        val r = f
        val secs = (System.nanoTime() - t0) / 1e9
        stageTimes += ((name, secs, -1L))
        println(f"[curate] stage $name%-22s ${secs}%8.2fs")
        r
      }

    // PII redaction runs FIRST — before any hashing or dedup — so
    // content hashes, simhashes, and chunks are computed over the
    // redacted text (two docs differing only in the PII they leak
    // dedup together), and raw PII never reaches an output file.
    val docs0 = spark.read.parquet(docsPath)
    val docsRedacted = stage("redact_pii")(
      if (flags.contains("--redact-pii")) graft.operators.Curation.redactPii(docs0)
      else docs0)
    // Line-level C4 filtering runs after redaction (rules read the
    // redacted text) and before any per-document scoring or hashing, so
    // dedup keys are computed over the boilerplate-free text.
    val docsLined = stage("line_filter")(
      if (flags.contains("--line-filter"))
        graft.operators.Curation.c4LineFilter(docsRedacted,
          minWords = flagValue("--min-line-words").map(_.toInt).getOrElse(5),
          minLines = flagValue("--min-lines").map(_.toInt).getOrElse(2))
      else docsRedacted)
    // Chunk-level (sub-document) dedup runs before per-document scoring
    // and hashing, like the line filter: boilerplate shared across docs
    // is dropped once globally, and downstream dedup keys see the
    // cleaned text. Fully-duplicate docs collapse to empty text and are
    // dropped here (the quality gate would reject them anyway, but an
    // explicit filter keeps the funnel stats attributable).
    val docs = stage("chunk_dedup")(
      if (flags.contains("--chunk-dedup")) {
        import org.apache.spark.sql.functions.col
        graft.operators.Curation.chunkDedup(docsLined,
            n = flagValue("--chunk-tokens").map(_.toInt).getOrElse(16))
          .filter(col("n_chunks_kept") > 0)
          .drop("n_chunks", "n_chunks_kept")
      } else docsLined)
    val win = flagValue("--win").map(_.toInt).getOrElse(64)
    val stride = flagValue("--stride").map(_.toInt).getOrElse(48)
    // Validated up front: with non-ANSI SQL a zero/negative stride turns
    // the chunker's sequence() NULL and silently writes an EMPTY chunks
    // output instead of failing.
    require(win > 0, s"--win must be positive, got $win")
    require(stride > 0, s"--stride must be positive, got $stride")
    require(win >= stride,
      s"--win ($win) must be >= --stride ($stride), or tokens between windows are dropped")
    val r = timeIt("neardup_pairing_build")(graft.operators.Curation.curate(docs,
      minTokens = flagValue("--min-tokens").map(_.toInt).getOrElse(10),
      maxDupTokenFrac = flagValue("--max-dup-frac").map(_.toDouble).getOrElse(0.5),
      minAlphaFrac = flagValue("--min-alpha-frac").map(_.toDouble).getOrElse(0.5),
      win = win, stride = stride))
    // Optional decontamination against a held-out eval set, applied to
    // the deduped survivors (cheapest point: smallest corpus, and the
    // dropped docs never reach the chunker).
    if (timed) { stage("quality_gate")(r.quality); stage("exact_dedup")(r.exactDeduped)
      stage("neardup_dedup")(r.curated); () }
    val curated = stage("decontaminate")(flagValue("--eval") match {
      case Some(evalPath) =>
        import org.apache.spark.sql.DataFrame
        val decon: (DataFrame, DataFrame, Int, Int) => DataFrame =
          if (flags.contains("--bloom"))
            graft.operators.Curation.decontaminateBloom(_, _, _, _)
          else graft.operators.Curation.decontaminate(_, _, _, _)
        decon(r.curated, spark.read.parquet(evalPath),
          flagValue("--min-shared").map(_.toInt).getOrElse(8),
          flagValue("--ngram").map(_.toInt).getOrElse(3))
      case None => r.curated
    })
    // Optional mixture selection: the curated survivors are packed into
    // per-source token budgets; only the selected mix reaches the chunker.
    val mixed = stage("mixture_select")(flagValue("--mix") match {
      case Some(spec) =>
        val weights = spec.split(",").map { kv =>
          kv.split(":") match {
            case Array(k, v) => k.trim -> v.trim.toDouble
            case _ => throw new IllegalArgumentException(
              s"--mix entries must be source:weight, got '$kv'")
          }
        }.toMap
        val budget = flagValue("--token-budget").map(_.toLong).getOrElse(
          throw new IllegalArgumentException("--mix requires --token-budget"))
        graft.operators.Curation.mixtureSelect(curated, weights, budget)
      case None => curated
    })
    val chunks = graft.operators.Curation.chunkWindows(mixed, win, stride)

    timeIt("write_curated")(mixed.write.mode("overwrite").parquet(s"$outDir/curated"))
    timeIt("chunk_and_write")(chunks.write.mode("overwrite").parquet(s"$outDir/chunks"))
    // --manifest: per-shard data-versioning fingerprints over the chunks
    // just written (the x_shard_manifest shape: counts + md5 over the
    // shard's chunk md5s in sorted order — order-canonical, so re-runs
    // over identical data produce identical manifests regardless of
    // write order). The constant-size "same data?" artifact a
    // reproducible training run records next to its shards.
    if (flags.contains("--manifest")) {
      import org.apache.spark.sql.functions._
      val nShards = flagValue("--shards").map(_.toInt).getOrElse(8)
      graft.operators.Curation.shardAssign(
          spark.read.parquet(s"$outDir/chunks"),
          nShards = nShards, keyCols = Seq("doc_id", "chunk_idx"))
        .withColumn("chunk_md5", md5(col("chunk_text")))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("n_chunk_tokens").cast("long")).as("n_tokens"),
          countDistinct("doc_id").as("n_docs"),
          md5(expr("concat_ws('', sort_array(collect_list(chunk_md5)))"))
            .as("manifest_md5"))
        .orderBy("shard")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/manifest")
      println(s"[curate] manifest written to $outDir/manifest")
    }
    // Funnel counts: the expensive stages (near-dup CC, chunking) are
    // counted from the parquet just written instead of recomputed.
    import spark.implicits._
    // "curated" = final survivors: near-dup dedup plus, when --eval was
    // given, decontamination (not labeled after_neardup_dedup — with
    // --eval that name would misattribute the decontamination drops).
    val stats = Seq(
      ("input", docs.count()),
      ("after_quality_gate", r.quality.count()),
      ("after_exact_dedup", r.exactDeduped.count()),
      ("curated", spark.read.parquet(s"$outDir/curated").count()),
      ("chunks", spark.read.parquet(s"$outDir/chunks").count())
    ).toDF("stage", "n_rows")
    stats.write.mode("overwrite").json(s"$outDir/stats")
    stats.show(10, truncate = false)
    if (timed) {
      val lines = stageTimes.map { case (n, s, c) =>
        s"""{"stage":"$n","secs":${f"$s%.3f"},"rows":$c}"""
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/timings.jsonl"),
        lines.mkString("\n").getBytes("UTF-8"))
      println(s"[curate] timings written to $outDir/timings.jsonl")
    }
  }
}
