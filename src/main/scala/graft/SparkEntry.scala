package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.pages.SyntheticPages
import graft.pipeline.ExtractJob
import graft.merge.{MergeConfig, MergeJob, RunDoc}
import graft.stats.Stats
import graft.ops.{Curation, Decontaminate, Dedup, DupClusters, DupSpans, LineDedup, Multimodal, Similarity, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the correctness surface: one entry per implemented operator
  * family; entries with a SQL-expressible equivalent also appear in
  * `oracleSql` (DuckDB runs them on the same parquet inputs and compares).
  * Extraction/merge queries run over the deterministic synthetic page corpus
  * derived from `documents.parquet` (no SQL oracle possible — rows-only).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the full main-content + table extraction over the synthetic corpus.
    */
  def entry(spark: SparkSession): DataFrame = {
    val pages = SyntheticPages.pages(spark, "/root/testdata/sf0.001")
    ExtractJob.extract(spark, pages, ExtractJob.Config(buckets = 8))
      .toDF()
      .select(col("url"), col("lang"), col("main_text"), col("n_tables"),
        size(col("spans")).as("n_spans"), col("status"), col("html_bytes"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.all

  def oracleSql: Map[String, String] = Queries.oracles
}

/** Query registry. Each Spark query aliases its output columns identically
  * to the DuckDB oracle (driver compares by sorted column name + value hash).
  */
object Queries {

  // memoized parquet reads: a fresh spark.read.parquet re-runs footer/schema
  // planning (one small Spark job) per call; reusing the resolved DataFrame
  // keeps query CONSTRUCTION lazy (PlanSpec gates 0 jobs) and drops repeated
  // planning from Verify/Bench. Weakly keyed per session (core.DfCache).
  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    graft.core.DfCache.get(s, s"$dir/$name.parquet")(s.read.parquet(s"$dir/$name.parquet"))

  private def docs(s: SparkSession, dir: String) = tbl(s, dir, "documents")
  private def lineitem(s: SparkSession, dir: String) = tbl(s, dir, "lineitem")
  private def orders(s: SparkSession, dir: String) = tbl(s, dir, "orders")
  private def customer(s: SparkSession, dir: String) = tbl(s, dir, "customer")
  private def nation(s: SparkSession, dir: String) = tbl(s, dir, "nation")
  private def events(s: SparkSession, dir: String) = tbl(s, dir, "events")
  private def embeddings(s: SparkSession, dir: String) = tbl(s, dir, "embeddings")

  private def extracted(s: SparkSession, dir: String) =
    ExtractJob.extract(s, SyntheticPages.pages(s, dir), ExtractJob.Config(buckets = 32))

  /** Midpoint-split two-line corpus with a boilerplate banner prepended to
    * every 5th doc — the planted input of q_line_dedup and q_curate_replay.
    * `titleCaseTenth` plants the Title Case variant on every 10th doc
    * (same normalized form, exercising the trim+lower match). One Scala
    * copy ↔ one DuckDB `lined` CTE: edits must land in both.
    */
  private def midpointLined(d: DataFrame, titleCaseTenth: Boolean): DataFrame = {
    val toks = split(col("text"), " ")
    val half = floor(size(toks) / 2).cast("int")
    val base = concat_ws("\n",
      array_join(slice(toks, lit(1), half), " "),
      array_join(slice(toks, half + 1, size(toks) - half), " "))
    val lower5 = concat(lit("subscribe to our newsletter today\n"), base)
    val banner =
      if (titleCaseTenth)
        when(col("doc_id") % 10 === 0,
          concat(lit("Subscribe To Our Newsletter Today\n"), base))
          .when(col("doc_id") % 5 === 0, lower5)
      else when(col("doc_id") % 5 === 0, lower5)
    d.select(col("doc_id"), banner.otherwise(base).as("text"))
  }

  /** Benchmark "questions": the first-12-token prefix of every doc with
    * doc_id % mod == rem and at least 8 tokens — the eval-set stand-in the
    * decontamination queries share. Mirrors the `bench_items` CTEs.
    */
  private def benchmarkPrefix(d: DataFrame, mod: Int, rem: Int): DataFrame = {
    val tokens = graft.ops.TextKernel.lowerWordsCol(col("text"))
    d.filter(col("doc_id") % mod === rem && size(tokens) >= 8)
      .select(array_join(slice(tokens, 1, 12), " ").as("text"))
  }

  /** Two deterministic "reader runs" from the extraction: the real run plus
    * a case/whitespace-perturbed twin (exercises merge normalization +
    * agreement end to end).
    */
  private def mergedRuns(s: SparkSession, dir: String) = {
    import s.implicits._
    // BOTH runs come out of ONE extraction pass (round 1 built runB as
    // runA.map(perturb) then unioned — the DAG executed the extraction,
    // JSON serialize and parse once per branch, doubling the dominant cost
    // of every merge-family query).
    val runs = extracted(s, dir).flatMap { e =>
      val a = RunDoc(e.url, "run-extract", 0, 0, e.tables_json)
      Seq(a, MergeJob.perturbRun(a, "run-perturbed", 1))
    }
    MergeJob.mergeRuns(s, runs, MergeConfig())
  }

  /** Cell-level flatten of the extraction output (K4 csv-flatten semantics).
    *
    * Typed single-parse flatten: the relational form (from_json +
    * 3×posexplode over the nested doc) is semantically identical but
    * measured 46s at sf0.1 — CollapseProject inlines the from_json into
    * every consuming expression of each Generate stage, re-parsing the doc
    * JSON repeatedly (the same HOF/child re-evaluation trap as round 1's
    * minhash signatures). One TableDoc.fromJsonString pass per doc emits
    * the identical rows. Reserved meta fields are already modeled as
    * RowData fields, matching reference K4's _SPECIAL_FIELDS exclusion.
    */
  private def flatCells(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.core.{Cell, TableDoc}
    extracted(s, dir).flatMap { e =>
      val doc = TableDoc.fromJsonString(e.tables_json)
      for {
        (t, ti) <- doc.tables.zipWithIndex
        (f, fi) <- t.fragments.zipWithIndex
        (row, ri) <- f.rows.zipWithIndex
        (name, cell) <- row.columns
      } yield (e.url, ti, fi, f.page, ri, name, cell match {
        case Cell.Null => null
        case Cell.Str(v) => v
        case m: Cell.Multi => Cell.json(m)
      })
    }.toDF("url", "table_idx", "frag_idx", "page", "row_idx", "col_name", "value")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- extraction pipeline
    // (extract_pages stays rows-only: main_text is content; the structural
    // surface is oracle-checked via extract_invariants/extract_flat_counts)
    "extract_pages" -> ((s, dir) =>
      extracted(s, dir).toDF().select(
        col("url"), col("lang"), col("main_text"),
        col("n_tables"), size(col("spans")).as("n_spans"),
        col("status"), col("html_bytes"))),

    // structural extraction invariants, fully recomputable in SQL from the
    // deterministic generator's doc_id arithmetic (SyntheticPages.renderPage)
    "extract_invariants" -> ((s, dir) =>
      extracted(s, dir).toDF().select(
        col("url"), col("lang"), col("n_tables"), col("n_table_rows"),
        size(col("spans")).as("n_spans"), col("status"))),

    "extract_tables_flat" -> ((s, dir) => flatCells(s, dir)),

    // the north rule's "byte-identical extracted text per url", driver-
    // checkable: md5 of the boilerplate-stripped main text, which the
    // oracle reconstructs block by block (heading, kept paragraphs via the
    // chunking arithmetic, page-2 heading, table intro, NFKC'd punctuation
    // paragraph, mega-page repeats) without touching HTML
    "extract_main_text" -> ((s, dir) =>
      extracted(s, dir).toDF().select(
        col("url"), md5(col("main_text")).as("main_text_md5"))),

    // per-url cell/row counts of the flatten — SQL-recomputable.
    // Aggregated from ROW-granularity rows (one typed row per (url, table,
    // frag, row) with its cell count) instead of the cell-granularity
    // flatten: sum(n_row_cells) ≡ count(1) over cells and the
    // countDistinct's expand/partial-agg input shrinks ~7× (cells per row),
    // with identical results under ANY url multiplicity — rows with zero
    // cells emit nothing, exactly like the cell flatten (guide §2.3
    // "aggregate before you shuffle"; measured -0.5 s at sf0.1).
    "extract_flat_counts" -> ((s, dir) => {
      import s.implicits._
      import graft.core.TableDoc
      val rowCells = extracted(s, dir).flatMap { e =>
        val doc = TableDoc.fromJsonString(e.tables_json)
        for {
          (t, ti) <- doc.tables.zipWithIndex
          (f, fi) <- t.fragments.zipWithIndex
          (row, ri) <- f.rows.zipWithIndex
          if row.columns.nonEmpty
        } yield (e.url, ti, fi, ri, row.columns.size.toLong)
      }.toDF("url", "table_idx", "frag_idx", "row_idx", "n_row_cells")
      rowCells
        .groupBy(col("url"))
        .agg(sum(col("n_row_cells")).as("n_cells"),
          // frag_idx included: row_idx resets per fragment, so a
          // multi-fragment table would undercount without it (the current
          // extractor emits one fragment per table, but the count must not
          // depend on that invariant)
          countDistinct(col("table_idx"), col("frag_idx"), col("row_idx")).as("n_rows"))
    }),

    // N-run merge (J1-J4 + agreement G1/G4) over two deterministic runs
    "merge_agreement" -> ((s, dir) =>
      MergeJob.flattenMerged(s, mergedRuns(s, dir)).toDF()),

    // G5-G7: per-doc stats (narrow map) + global roll-up (single agg)
    "tablestats_per_doc" -> ((s, dir) =>
      Stats.perDocStats(s, mergedRuns(s, dir)).toDF()),

    "tablestats_global" -> ((s, dir) =>
      Stats.globalStats(Stats.perDocStats(s, mergedRuns(s, dir)).toDF())),

    // G8: column-type inference over merged tables
    "tablestats_column_types" -> ((s, dir) =>
      Stats.columnTypes(s, mergedRuns(s, dir))),

    // O3 --sort: per-doc stats ordered by table count desc (driver compare
    // is order-insensitive; ordering itself is spec-gated in StatsExtrasSpec)
    "tablestats_sorted" -> ((s, dir) =>
      Stats.sortStats(Stats.perDocStats(s, mergedRuns(s, dir)).toDF(), "desc")),

    // O3 --empty: documents whose extraction produced no tables
    "tablestats_empty" -> ((s, dir) =>
      Stats.emptyPapers(extracted(s, dir).toDF())),

    // nested relational surface: the merged docs as a 2-level struct view
    // (tables -> rows[] -> cells{}), typed-parsed ONCE, then queried with
    // plain SQL explodes — per-column agreement histogram. Proves a SQL
    // user can read merged cells without a JSON re-parse per expression.
    "q_merged_column_agreement" -> ((s, dir) => {
      val v = MergeJob.nestedMergedTables(s, mergedRuns(s, dir)).toDF()
      v.select(col("doc_id"), explode(col("rows")).as("r"))
        .select(col("doc_id"), col("r.agreement_level_").as("agreement_level_"),
          explode(col("r.cells")).as(Seq("col_name", "value")))
        .groupBy(col("col_name"), col("agreement_level_"))
        .agg(count(lit(1)).as("n_cells"), countDistinct(col("doc_id")).as("n_docs"))
    }),

    // S6/J6 hybrid: url->mapping sidecar DataFrame broadcast-joined into
    // the page scan (no driver-side collect; the sidecar is built lazily
    // from the same documents scan — deterministic: every 6th doc)
    "extract_mapped" -> ((s, dir) => {
      import graft.html.{ColumnMapping, TableMapping, TablesMapping}
      val mapping = TablesMapping(
        tables = List(TableMapping("Mapped species", "none", 1, 1,
          List(ColumnMapping(1, "Scientific Name"), ColumnMapping(0, "Common")))),
        citation = "Mapped Atlas (2031)")
      val sidecar = docs(s, dir)
        .filter(col("doc_id") % 6 === 0)
        .select(
          format_string("https://synthetic.example.org/doc/%08d", col("doc_id")).as("url"),
          lit(TablesMapping.toJsonString(mapping)).as("mapping_json"))
      ExtractJob.extractMappedJoin(s, SyntheticPages.pages(s, dir), sidecar,
        ExtractJob.Config(buckets = 32))
        .toDF()
        .filter(col("citation").isNotNull)
        .select(col("url"), col("citation"), col("n_tables"))
    }),

    // S14 end-to-end: the synthetic corpus is WRITTEN as Common-Crawl-layout
    // .warc.gz (one gzip member per record; warcinfo + request records
    // interleaved with the responses), read back via format("warc") — which
    // must skip non-response records, decode every gzip member, strip the
    // HTTP envelope and surface the exact html bytes — and fed through the
    // full extraction. Structural counts and the WARC-Date round-trip are
    // predicted by the oracle from pure doc_id arithmetic, so a silent
    // regression anywhere in write→decode→parse→extract flips the gate.
    // The write is an action, memoized per (session, dir) like
    // q_dup_clusters (PlanSpec jobs-gate pattern).
    "q_warc_roundtrip" -> ((s, dir) =>
      graft.core.DfCache.get(s, s"$dir#q_warc_roundtrip") {
        import s.implicits._
        val out = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-warc-${new java.io.File(dir).getName}").getAbsolutePath
        graft.sources.WarcWriter.writeCorpus(s, SyntheticPages.pages(s, dir), out)
        val warc = s.read.format("warc").load(out)
        val pages = warc
          .select(col("url"), col("warc_ts"), col("html"))
          .as[(String, java.sql.Timestamp, Array[Byte])]
          .map { case (u, ts, html) => graft.pipeline.Page(u, ts, html, "", "") }
        val ex = ExtractJob.extract(s, pages, ExtractJob.Config(buckets = 32)).toDF()
        // crawl-metadata enrichment join (url-keyed; same shape as joining
        // any per-capture sidecar back onto extraction output)
        val meta = warc.select(col("url"),
          unix_timestamp(col("warc_ts")).as("warc_epoch"))
        ex.join(meta, "url")
          .select(col("url"), col("warc_epoch"), col("n_tables"),
            col("n_table_rows"), size(col("spans")).as("n_spans"), col("status"))
      }),

    // the WARC micro-batch offset arithmetic, driver-visible (the one
    // engine surface the oracle never touched — streaming itself can't be
    // DuckDB-checked, but its PARTITION PLANNING can): segments arrive one
    // per batch (docs bucketed doc_id % 4), and each step drives the REAL
    // WarcMicroBatchStream — latestOffset over the grown glob, offset JSON
    // round-trip, planInputPartitions' seen-set subtraction — then reads
    // exactly the planned new files. Per batch: new-file count (2 —
    // repartition(2) fixes the one-partition-per-file arithmetic), record
    // count and the doc_id sum recovered from the urls, all pure functions
    // of doc_id. Memoized ACTION (PlanSpec jobs-gate pattern).
    "q_warc_stream_batches" -> ((s, dir) =>
      graft.core.DfCache.get(s, s"$dir#q_warc_stream_batches") {
        import s.implicits._
        val nBatches = 4
        val base = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-warcstream-${new java.io.File(dir).getName}").getAbsolutePath
        val basePath = new org.apache.hadoop.fs.Path(base)
        val fs = basePath.getFileSystem(s.sessionState.newHadoopConf())
        if (fs.exists(basePath)) fs.delete(basePath, true)
        val pages = SyntheticPages.pages(s, dir)
        val stream = new graft.sources.WarcMicroBatchStream(
          Map("path" -> s"$base/seg-*"), graft.sources.WarcSource.Schema)
        var prev = stream.initialOffset()
        val perBatch = (0 until nBatches).map { k =>
          graft.sources.WarcWriter.writeCorpus(s,
            pages.filter(p => p.url.substring(p.url.length - 8).toLong % nBatches == k)
              .repartition(2),
            s"$base/seg-$k")
          // offset JSON round-trip + seen-set subtraction: the planned
          // partitions must be exactly this segment's data files
          val cur = stream.deserializeOffset(stream.latestOffset().json())
          val parts = stream.planInputPartitions(prev, cur)
          prev = cur
          val newFiles = parts.map(_.asInstanceOf[graft.sources.WarcFilePartition].path)
          val agg = s.read.format("warc").load(newFiles.toIndexedSeq: _*)
            .select(SyntheticPages.docIdOfUrl(col("url")).as("doc_id"))
            .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sd"))
            .collect()(0)
          (k.toLong, newFiles.length.toLong, agg.getLong(0), agg.getLong(1))
        }
        perBatch.toDF("batch", "n_new_files", "n_records", "sum_doc_id")
      }),

    // TTL streaming dedup, driver-visible (VERDICT r5 ask #4): the REAL
    // flatMapGroupsWithState machine runs over 8 planted micro-batches; the
    // accept/evict arithmetic is closed-form over doc_id (StreamReplay
    // scaladoc has the derivation mirrored by the oracle's gap rule).
    "q_stream_ttl_dedup" -> ((s, dir) =>
      graft.core.DfCache.get(s, s"$dir#q_stream_ttl_dedup") {
        graft.streaming.StreamReplay.ttlDedupReplay(s, dir)
      }),

    // Watermarked windowed aggregation, driver-visible: pageRateAgg's
    // append-mode windows over a planted page stream; the oracle recomputes
    // the per-window sums AND which windows the final watermark flushed.
    "q_stream_rate_agg" -> ((s, dir) =>
      graft.core.DfCache.get(s, s"$dir#q_stream_rate_agg") {
        graft.streaming.StreamReplay.rateAggReplay(s, dir)
      }),

    // ----- relational layer (oracle-checked)
    "q1_agg" -> ((s, dir) =>
      lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("bigint")).as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast("bigint")).as("sum_base_price_cents"),
          count(lit(1)).as("count_order"))),

    "q_stats_by_source" -> ((s, dir) =>
      docs(s, dir)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))),

    "q_window_events" -> ((s, dir) =>
      events(s, dir).select(
        col("event_id"), col("user_id"),
        row_number().over(
          Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))).as("rn"))),

    "q_exact_dedup_docs" -> ((s, dir) =>
      docs(s, dir)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_count"))
        .select(col("doc_id"), col("dup_count"))),

    // F14 --paper filter: anchored regex match (re.fullmatch semantics)
    "q_paper_filter" -> ((s, dir) =>
      docs(s, dir)
        .filter(col("source").rlike("^src1[0-9]$"))
        .select(col("doc_id"), col("source"))),

    // F15 --append resumability primitive: anti-join against completed set
    "q_anti_join_resume" -> ((s, dir) => {
      val li = lineitem(s, dir)
      val completed = orders(s, dir)
        .filter(col("o_orderkey") % 7 < 3)
        .select(col("o_orderkey"))
      li.join(completed, li("l_orderkey") === completed("o_orderkey"), "left_anti")
        .select(col("l_orderkey"), col("l_linenumber"))
    }),

    // ----- training-data ops: text analysis
    "q_token_count" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))),

    // BPE-ish pre-token counting (the brief's second token-counting mode):
    // planted contraction/digit/punctuation tail exercises every pattern
    // class with doc_id-dependent digit lengths
    "q_token_count_bpe" -> ((s, dir) => {
      val planted = concat(col("text"),
        lit(" it's v2.0 #"), col("doc_id").cast("string"),
        lit(", cost $"), (col("doc_id") % 97).cast("string"), lit(".50!"))
      // no Spread guard: with one in front of the BPE-pattern
      // regexp_extract_all, this graft.Bench leaf ran at 0.73x its
      // unguarded speed
      docs(s, dir).select(col("doc_id"), col("text"))
        .select(col("doc_id"),
          TextAnalysis.tokenCount(planted).as("n_tokens_ws"),
          TextAnalysis.bpeTokenCount(planted).as("n_tokens_bpe"))
    }),

    "q_quality_score" -> ((s, dir) =>
      TextAnalysis.qualityScore(
        graft.ops.Spread.spread(docs(s, dir).select(col("doc_id"), col("text"))),
        col("text"))),

    // Gopher-style repetitiveness signals over the word-bigram multiset
    // (integer-scaled fractions — cross-engine hash-safe)
    "q_repetition_signals" -> ((s, dir) =>
      TextAnalysis.repetitionSignals(s, docs(s, dir))),

    // URL canonicalization (the step before crawl dedup): messy variants —
    // upper-case scheme/host, default ports, tracking params, unsorted
    // queries, trailing slashes, fragments — are synthesized from doc_id;
    // the oracle hand-derives the expected canonical form per variant, so
    // the engine's regexp/HOF canonicalizer is checked against an
    // INDEPENDENT construction, not a mirrored implementation
    "q_url_canonical" -> ((s, dir) => {
      val idStr = col("doc_id").cast("string")
      val messy = when(col("doc_id") % 4 === 0,
          concat(lit("HTTP://Example.COM:80/Doc/"), idStr, lit("/?utm_source=feed&b=2&a=1#top")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("https://mirror.example.org:443/doc/"), idStr))
        .when(col("doc_id") % 4 === 2,
          concat(lit("https://Mirror.Example.org/doc/"), idStr, lit("?z=9&a=1&gclid=abc")))
        .otherwise(concat(lit("http://example.com/doc/"), idStr, lit("///#frag")))
      docs(s, dir).select(col("doc_id"),
        graft.ops.UrlOps.canonicalizeUrl(messy).as("canonical_url"),
        graft.ops.UrlOps.urlHost(messy).as("host"))
    }),

    // context-window packing: 40-token chunks, 8 shared context tokens —
    // the oracle recomputes every chunk string with list slicing
    "q_chunk_windows" -> ((s, dir) =>
      TextAnalysis.chunkTokens(s, docs(s, dir), chunkSize = 40, overlap = 8)),

    // PII scrubbing over a corpus with deterministically planted PII
    // (emails/IPs/phones built from doc_id arithmetic — the base text is
    // letters-only, so the regexes act ONLY on the planted suffix and the
    // oracle controls every byte)
    "q_pii_redact" -> ((s, dir) => {
      val idStr = col("doc_id").cast("string")
      // plants every rule's shape: email, 7-digit local, IP, parenthesized
      // NANP, +1-dotted NANP, plus a date-like negative control that must
      // survive unredacted
      val planted = concat(col("text"),
        lit(" contact user"), idStr,
        lit("@mail"), (col("doc_id") % 7).cast("string"),
        lit(".example.org or 555-"), (col("doc_id") % 9000 + 1000).cast("string"),
        lit(" from 10."), (col("doc_id") % 256).cast("string"),
        lit(".0."), (col("doc_id") % 100).cast("string"),
        lit(" call ("), (col("doc_id") % 800 + 200).cast("string"),
        lit(") "), (col("doc_id") % 900 + 100).cast("string"),
        lit("-"), (col("doc_id") % 9000 + 1000).cast("string"),
        lit(" or +1 "), (col("doc_id") % 800 + 200).cast("string"),
        lit("."), (col("doc_id") % 900 + 100).cast("string"),
        lit("."), (col("doc_id") % 9000 + 1000).cast("string"),
        lit(" on 2024-01-"), (col("doc_id") % 28 + 1).cast("string"))
      // Spread-guarded: four chained regexp_replace passes over the text —
      // CPU-bound on the 1-2 scan tasks a tiny input yields
      graft.ops.Spread.spread(docs(s, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"), TextAnalysis.redactPii(planted).as("redacted"))
    }),

    // corpus-frequency (unigram-LM-style) quality: top-200 vocab via
    // orderBy+limit (k-bounded TakeOrderedAndProject), broadcast into the
    // per-doc OOV/vocab-mass aggregation — integer-exact cross-engine
    "q_token_freq_quality" -> ((s, dir) =>
      TextAnalysis.tokenFrequencyScore(docs(s, dir), k = 200)),

    // Spread-guarded: the stopword-scoring expression tree re-splits the
    // text per language and would otherwise run on the 1-2 scan tasks a
    // tiny input yields (same rationale as the typed dedup passes)
    "q_lang_id" -> ((s, dir) =>
      graft.ops.Spread.spread(
        docs(s, dir).select(col("doc_id"), col("lang"), col("text")))
        .select(col("doc_id"), col("lang"),
          TextAnalysis.langIdColumns(col("text")).as("predicted_lang"))),

    // rolling fingerprint summary — an INDEPENDENT poly-family instance
    // (seed 13): whole-text hash + min 3-gram hash + distinct-gram count
    "q_fingerprint_rolling" -> ((s, dir) =>
      TextAnalysis.fingerprintColumns(s, docs(s, dir))),

    // cross-engine-checkable fingerprint: polynomial rolling hash over
    // codepoints (DuckDB recomputes it exactly via list_reduce)
    "q_fingerprint_poly" -> ((s, dir) =>
      TextAnalysis.polyFingerprintRows(s, docs(s, dir))),

    // true winnowing (sliding-window minima over k-gram hashes) — the
    // distinct-minima set summarized per doc; DuckDB recomputes the exact
    // set with list slicing
    "q_fingerprint_winnow" -> ((s, dir) =>
      TextAnalysis.winnowFingerprintRows(s, docs(s, dir))),

    "q_doc_fingerprint_md5" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), md5(lower(trim(col("text")))).as("fingerprint"))),

    // the full curation pass COMPOSED (quality gate → repetition gate →
    // exact dedup with min-id keeper) over a corpus with planted exact
    // twins — oracle-checks the ops chained, not just in isolation
    "q_curation_pipeline" -> ((s, dir) =>
      Curation.curate(s, Curation.withPlantedExactDups(docs(s, dir)))),

    // ----- training-data ops: dedup
    "q_exact_dedup_md5" -> ((s, dir) =>
      Dedup.exactDedup(docs(s, dir), col("text"), col("doc_id"))),

    // append-mode dedup against a hash ledger: docs with doc_id < 250 are
    // the already-accepted corpus (the ledger holds ONLY their md5s);
    // the incoming batch is the rest plus exact twins of ledger docs —
    // twins must be rejected by the ledger anti-join, fresh docs accepted
    // with the in-batch min-id rule. The rows variant joins the accepted
    // keys back to the batch, so the oracle also checks the full-row
    // round-trip (text survives the keep-set join).
    "q_dedup_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      val ledger = d.filter(col("doc_id") < 250)
        .select(md5(col("text")).as("content_md5"))
      val incoming = d.filter(col("doc_id") >= 250).select(col("doc_id"), col("text"))
        .union(d.filter(col("doc_id") < 250 && col("doc_id") % 5 === 0)
          .select((col("doc_id") + 3000000).as("doc_id"), col("text")))
      Dedup.incrementalExactDedupRows(incoming, ledger)
        .select(col("content_md5"), col("doc_id"), col("text"))
    }),

    // the same append-mode semantics through the Bloom-pruned path: a
    // broadcast Bloom over the ledger digests routes definitely-new batch
    // winners around the anti-join (no false negatives), and only the
    // might-contain slice — true dups plus ~fpp false positives — is
    // verified by the exact join. fpp=0.05 at this scale guarantees both
    // sides are non-trivially exercised. The Bloom build is an ACTION
    // (one ledger scan), so the query is memoized per (session, dir)
    // like q_dup_clusters to keep the PlanSpec construction-jobs gate.
    "q_dedup_incremental_bloom" -> ((s, dir) =>
      graft.core.DfCache.get(s, s"$dir#q_dedup_incremental_bloom") {
        val d = docs(s, dir)
        val ledger = d.filter(col("doc_id") < 300)
          .select(md5(col("text")).as("content_md5"))
        val incoming = d.filter(col("doc_id") >= 300).select(col("doc_id"), col("text"))
          .union(d.filter(col("doc_id") < 300 && col("doc_id") % 3 === 0)
            .select((col("doc_id") + 4000000).as("doc_id"), col("text")))
        val lb = Dedup.ledgerBloom(ledger, expectedItems = 300, fpp = 0.05)
        Dedup.incrementalExactDedupBloom(incoming, ledger, lb)
          .select(col("content_md5"), col("doc_id"))
      }),

    // connected components over a deterministic arithmetic pair graph
    // (consecutive-id chains broken at every 13th id, plus skip links from
    // every 100th id that re-merge two chains across a break — component
    // diameters up to ~25, forcing real multi-round convergence). This is
    // the transitive-closure step pair-emitting dedup ops leave open:
    // A~B, B~C must collapse to ONE keeper even though A~C never paired.
    // The iterative fixpoint is inherently an ACTION (iteration count is
    // data-dependent), so the result is memoized per (session, dir) —
    // construction after the first touch is free (see the PlanSpec jobs
    // gate). DuckDB recomputes the exact components with a recursive CTE.
    "q_dup_clusters" -> ((s, dir) =>
      graft.core.DfCache.get(s, s"$dir#q_dup_clusters") {
        val ids = docs(s, dir).select(col("doc_id"))
        def arithEdges(off: Int, pred: org.apache.spark.sql.Column) =
          ids.filter(pred)
            .select(col("doc_id").as("src"), (col("doc_id") + off).as("dst"))
            .join(ids.select(col("doc_id").as("dst")), "dst") // endpoint must exist
            .select(col("src"), col("dst"))
        val edges = arithEdges(1, col("doc_id") % 13 =!= 12)
          .union(arithEdges(26, col("doc_id") % 100 === 0))
        DupClusters.connectedComponents(s, edges, Some(ids))
          .select(col("id").as("doc_id"), col("cluster_id"))
      }),

    // the END-TO-END dedup resolution chain (the composition the pair ops
    // exist for): LSH candidate pairs → exact-Jaccard verify → connected
    // components → drop set (everything but the min-id keeper per
    // cluster). Iterative CC is an ACTION — memoized like q_dup_clusters.
    // Scale-pinned oracle: DuckDB rebuilds the exact-Jaccard pair graph
    // and closes it with a recursive CTE (LSH recall == exact at the
    // driver's verify scale, like q_minhash_dedup).
    "q_near_dup_keeper" -> ((s, dir) =>
      graft.core.DfCache.get(s, s"$dir#q_near_dup_keeper") {
        val planted = Dedup.withPlantedNearDups(docs(s, dir))
        val pairs = Dedup.minhashLshPairs(s, planted)
        DupClusters.clustersFromPairs(
          s, pairs.select(col("a"), col("b")), Some(planted.select(col("doc_id"))))
          .filter(col("id") =!= col("cluster_id"))
          .select(col("id").as("doc_id"), col("cluster_id").as("kept_id"))
      }),

    "q_minhash_dedup" -> ((s, dir) =>
      Dedup.minhashLshPairs(s, Dedup.withPlantedNearDups(docs(s, dir)))
        .select(col("a"), col("b"))),

    // the exact-Jaccard verify stage, brute-forced over all pairs of the
    // planted corpus — DuckDB recomputes the identical shingle sets, so the
    // shingling + jaccard semantics get a full oracle (the LSH candidate
    // stage above is probabilistic-recall and stays rows-only)
    "q_minhash_verify_exact" -> ((s, dir) => {
      val planted = Dedup.withPlantedNearDups(docs(s, dir))
      val sh = Dedup.shingleRows(s, planted, 3)
      val sa = sh.select(col("doc_id").as("a"), col("shingles").as("sh_a"))
      val sb = sh.select(col("doc_id").as("b"), col("shingles").as("sh_b"))
      sa.crossJoin(sb).filter(col("a") < col("b"))
        .withColumn("jaccard",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))))
        .filter(col("jaccard") >= 0.5)
        .select(col("a"), col("b"))
    }),

    // maxBucket=1024 here (production default is 64): the DuckDB oracle is
    // exact all-pairs hamming, and at the sf0.01 verify corpus legitimate
    // near-dup cliques produce band buckets up to ~114 members — the
    // registered query must not cap them or the oracle legitimately
    // disagrees. Scale-pinned (Queries.scalePinnedOracles).
    "q_simhash_dedup" -> ((s, dir) =>
      Dedup.simhashPairs(s, Dedup.withPlantedNearDups(docs(s, dir)), maxBucket = 1024)),

    // benchmark decontamination: eval set = the first-12-token "questions"
    // of every 10th doc (those with >= 8 tokens); corpus = docs ∪ planted
    // near-dup twins. Twins share the leading 8-grams with their source's
    // question, so both the source and its twin must flag; output is the
    // contaminated ids + shared-gram counts (clean docs absent by design —
    // see Decontaminate.contaminationHits's scale note).
    "q_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      Decontaminate.contaminationHits(s, Dedup.withPlantedNearDups(d),
        benchmarkPrefix(d, mod = 10, rem = 0), n = 8)
    }),

    // exact duplicated-substring spans over docs ∪ planted twins: each twin
    // is its source's prefix, so both carry a maximal span covering that
    // shared prefix; incidental cross-doc 8-gram repeats surface too
    "q_dup_spans" -> ((s, dir) =>
      DupSpans.dupSpans(s, Dedup.withPlantedNearDups(docs(s, dir)), k = 8)),

    // the integer-exact duplicate-fraction quality signal: every doc's
    // (n_tokens, duplicated-token count), clean docs included with 0
    "q_dup_span_coverage" -> ((s, dir) =>
      DupSpans.dupCoverage(s, Dedup.withPlantedNearDups(docs(s, dir)), k = 8)),

    // repeated-line strip: each doc split at its token midpoint into two
    // lines; every 5th doc gets a boilerplate banner line prepended (every
    // 10th in Title Case — same normalized form, so the whole family
    // strips); output is the full rebuilt text per doc
    // NOTE (r7, measured): the midpointLined CASE runs on the 1-2 scan
    // tasks here, twice (the inner-join branch's inferred isnotnull breaks
    // exchange reuse for one of the three strip branches). Pre-spreading
    // the raw docs fixes the stage profile (2×230 ms single-task → 2×50 ms
    // + full-width projection) but the extra exchange's barrier latency
    // made the frozen bench row WORSE (0.57 → 0.68 s) — reverted; at
    // corpus scale the guard is inert either way.
    "q_line_dedup" -> ((s, dir) =>
      LineDedup.stripRepeatedLines(
        midpointLined(docs(s, dir), titleCaseTenth = true), minDf = 2)),

    // composed hygiene chain (the order a real curation pass runs): span
    // coverage gates out docs that are >50% duplicated substrings (every
    // planted source+twin), then decontamination anti-joins away docs
    // sharing an 8-gram with the benchmark; output is the surviving docs'
    // (doc_id, n_tokens) — each stage reuses an independently-oracled op
    "q_span_decontam_chain" -> ((s, dir) => {
      val d = docs(s, dir)
      val planted = Dedup.withPlantedNearDups(d)
      val kept = DupSpans.dupCoverage(s, planted, k = 8)
        .filter(col("dup_tokens") * 2 <= col("n_tokens"))
      val hits = Decontaminate.contaminationHits(s, planted,
        benchmarkPrefix(d, mod = 10, rem = 0), n = 8).select(col("doc_id"))
      kept.join(broadcast(hits), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("n_tokens"))
    }),

    // the FLAGSHIP pipeline entrypoint replayed as a lazily-built query:
    // CurateMain.run (computeStats=false → construction-pure) over a
    // corpus exercising all four stages — banner lines (strip), planted
    // prefix twins (span gate), %7==3 question prefixes (decontamination),
    // quality/dedup on whatever survives. Output = the curated corpus
    // itself, full text strings hash-compared against the DuckDB replay
    "q_curate_replay" -> ((s, dir) => {
      val d = docs(s, dir)
      // r7 trial, reverted: pre-spreading the raw docs under the planted
      // projections (the q_line_dedup experiment) read noise-level on the
      // frozen bench here (2.04 and 2.42 across two windows vs a
      // 2.18-2.30 baseline band) — the extra exchange's stage barriers eat
      // the single-task-projection saving at this scale.
      val corpus = Dedup.withPlantedNearDups(midpointLined(d, titleCaseTenth = false))
      CurateMain.run(s, corpus, Some(benchmarkPrefix(d, mod = 7, rem = 3)),
        CurateMain.Args(), computeStats = false)._1
    }),

    // the TRUE end-to-end path: web pages → extraction (main_text, whose
    // boilerplate lines — section headings, the non-en typographic line,
    // the %101 repetition pathology — are GENUINE cross-document repeats,
    // no planting needed) → the curation chain. Line strip removes the
    // real boilerplate, quality/repetition/exact-dedup and the span gate
    // run over the cleaned text; output is the curated training corpus
    "q_extract_curate" -> ((s, dir) => {
      val web = extracted(s, dir).toDF().select(
        SyntheticPages.docIdOfUrl(col("url")).as("doc_id"),
        col("main_text").as("text"))
      CurateMain.run(s, web, None, CurateMain.Args(), computeStats = false)._1
    }),

    // ----- training-data ops: similarity search
    "q_ann_topk" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, 10)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),

    // fixed-k deterministic centroid pick (poly-hash order) makes the whole
    // IVF pipeline — centroid set, cell assignment, probing, ranking —
    // recomputable by the DuckDB oracle
    "q_ann_ivf" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.ivfTopK(s, emb.filter(col("vec_id") < 10), emb, 10, numCentroids = 32, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),

    // the Lloyd-accumulation oracle surface: per-cell member counts + EXACT
    // fixed-point component sums (floor(x*2^20 + 0.5) — long sums are
    // associative, so distributed k-means refinement is deterministic and
    // engine-recomputable; float averaging would be partial-sum-order-
    // dependent). Same 32-centroid assignment as q_ann_ivf's oracle.
    // Memoized: the centroid pick is a k-bounded collect ACTION (PlanSpec
    // jobs-gate pattern, like q_dup_clusters).
    "q_ivf_cell_stats" -> ((s, dir) =>
      graft.core.DfCache.get(s, s"$dir#q_ivf_cell_stats") {
        Similarity.ivfCellStats(s, embeddings(s, dir), numCentroids = 32)
      }),

    "q_cosine_near_dup" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val planted = emb.select(col("vec_id"), col("embedding")).union(
        emb.filter(col("vec_id") % 25 === 0).select(
          (col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.001f)).as("embedding")))
      Similarity.cosineNearDupPairs(planted, threshold = 0.95)
        .select(col("a"), col("b"))
    }),

    // ----- training-data ops: multimodal plumbing (stubbed codec)
    "q_multimodal_meta" -> ((s, dir) => Multimodal.mediaMetaQuery(s, dir)),

    // REAL image decode: genuine P6 PPM payloads built from doc_id, parsed
    // by a real header+plane decoder; the oracle PREDICTS the decode output
    // from the generator arithmetic (dims, modular pixel sum) — the decoder
    // must agree with a party that never parses the bytes
    "q_multimodal_ppm" -> ((s, dir) => Multimodal.ppmMetaQuery(s, dir)),

    // REAL image resize: factor-2 average pooling over the decoded P6
    // plane; the oracle predicts every pooled value from the generator
    // arithmetic ((doc_id + plane_index) % 256) without parsing bytes —
    // pooled total + positional 31-bit polynomial pin the values exactly
    "q_multimodal_resize" -> ((s, dir) => Multimodal.ppmResizeQuery(s, dir)),

    // feature extraction: per-channel intensity sums over the decoded
    // plane — the oracle sums (doc_id + i) % 256 over each channel's
    // residue class without parsing bytes
    "q_multimodal_features" -> ((s, dir) => Multimodal.ppmFeatureQuery(s, dir)),

    // frame sampling: every 4th frame of each video payload (frame count
    // from the stub's octet_length arithmetic — SQL-predictable), single
    // frame 0 for non-video rows
    "q_multimodal_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(s, Multimodal.mediaTable(s, dir), everyK = 4)),

    // deterministic skew salting: per-host stats where one synthetic host
    // holds ~33% of rows; two-phase salted agg, result salt-invariant
    "q_host_stats_salted" -> ((s, dir) => {
      val withHost = docs(s, dir).withColumn("host",
        when(col("doc_id") % 3 === 0, lit("mega.example.org"))
          .otherwise(concat(lit("h"), (col("doc_id") % 20).cast("string"), lit(".example.org"))))
      graft.ops.Salting.saltedKeyStats(
        withHost, col("host"), col("doc_id"), col("n_chars"),
        skewKeys = Seq("mega.example.org"), saltBuckets = 8)
        .select(col("key").as("host"), col("n"), col("total").as("total_chars"))
    }),

    // per-host frequency cap (crawl sampling): at most 10 docs per host,
    // lowest doc_id first — deterministic because doc_id is unique; same
    // synthetic host rule as q_host_stats_salted (mega host + 20 normals)
    "q_host_cap" -> ((s, dir) => {
      val host = when(col("doc_id") % 3 === 0, lit("mega.example.org"))
        .otherwise(concat(lit("h"), (col("doc_id") % 20).cast("string"), lit(".example.org")))
      graft.ops.Salting.capPerHost(
        docs(s, dir).select(col("doc_id"), host.as("host")),
        col("host"), col("doc_id"), cap = 10)
    }),

    // deterministic training-mix sampling: per-source keep rates resolved
    // to fixed bucket thresholds over the cross-engine poly hash — a pure
    // narrow filter (no shuffle, no RNG; identical kept set under any
    // partitioning, unlike df.sample). Oracle recomputes the buckets.
    "q_stratified_sample" -> ((s, dir) =>
      graft.ops.Sampling.stratifiedSample(
        docs(s, dir).select(col("doc_id"), col("source")),
        col("source"), col("doc_id"),
        rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
        defaultRate = 0.1)),

    // token/char-budget capping per stratum ("fill each source to N
    // units"): lowest-id docs kept while the running n_chars sum stays
    // within budget — phase-1 local-prefix prune + exact window. Oracle
    // recomputes the running sum.
    "q_token_budget_cap" -> ((s, dir) =>
      graft.ops.Salting.capPerStratumBudget(
        docs(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
        col("source"), col("doc_id"), col("n_chars"), budget = 3000L)),

    // the crawl-shaped skew chain COMPOSED (VERDICT r3 ask #8): a planted
    // mega-host carries ~33% of the corpus → per-host frequency cap
    // (phase-1 map-side prune bounds the hot host's shuffle) → the full
    // single-scan curation pass over the survivors. Oracle recomputes the
    // cap with a window and replays the whole curation arithmetic.
    "q_skew_cap_curation" -> ((s, dir) => {
      val host = when(col("doc_id") % 3 === 0, lit("mega.example.org"))
        .otherwise(concat(lit("h"), (col("doc_id") % 20).cast("string"), lit(".example.org")))
      val withHost = docs(s, dir).select(col("doc_id"), col("text"), host.as("host"))
      val capped = graft.ops.Salting.capPerHost(withHost, col("host"), col("doc_id"), cap = 40)
      Curation.curate(s, capped.select(col("doc_id"), col("text")))
    }),

    // broadcast dimension join: revenue cents per nation
    "q_join_agg_nation" -> ((s, dir) => {
      val o = orders(s, dir)
      val c = customer(s, dir)
      val n = nation(s, dir)
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("bigint")).as("revenue_cents"))
    })
  )

  /** Shared oracle CTE: the synthetic generator's structural arithmetic
    * (SyntheticPages.renderPage is pure in doc_id for COUNTS):
    *  - m3: markup table present (1 main table, 4+doc_id%4 rows, 4 cols)
    *  - m6: main table is th-headed (semantic column names)
    *  - m9: extra span-resolution table (2 rows, 3 cols) — implies m3
    *  - m5: multi-page doc (continuation table, 3 rows, 2 cols, page 2);
    *        all of the doc's tables land on page 2
    *  - pre: whitespace-aligned <pre> table (4 rows incl. the unpromoted
    *        header line, 3 cols) — COUNTED only when its page has no markup
    *        tables (per-page first-success cascade), i.e. !m3 && !m5
    */
  private val docFlagsCte =
    """f AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS m3,
      |    CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END AS m6,
      |    CASE WHEN doc_id % 9 = 0 THEN 1 ELSE 0 END AS m9,
      |    CASE WHEN doc_id % 5 = 4 THEN 1 ELSE 0 END AS m5,
      |    CASE WHEN doc_id % 7 = 1 AND doc_id % 3 <> 0 AND doc_id % 5 <> 4 THEN 1 ELSE 0 END AS pre,
      |    4 + doc_id % 4 AS main_rows
      |  FROM documents)""".stripMargin

  /** Per-(doc, table) structural rows derived from the flags. */
  private val docTablesCte =
    """t AS (
      |  SELECT doc_id, 0 AS table_idx, CASE WHEN m5 = 1 THEN 2 ELSE 1 END AS page,
      |         main_rows AS nrows, 4 AS ncols FROM f WHERE m3 = 1
      |  UNION ALL
      |  SELECT doc_id, 1, CASE WHEN m5 = 1 THEN 2 ELSE 1 END, 2, 3 FROM f WHERE m9 = 1
      |  UNION ALL
      |  SELECT doc_id, m3 + m9, 2, 3, 2 FROM f WHERE m5 = 1
      |  UNION ALL
      |  SELECT doc_id, 0, 1, 4, 3 FROM f WHERE pre = 1)""".stripMargin

  private val urlExpr = "printf('https://synthetic.example.org/doc/%08d', doc_id)"

  /** Per-doc merged-stats CTE (shared by the tablestats oracles). */
  private val perDocStatsCte =
    """per AS (
      |  SELECT doc_id,
      |    m3 + m9 + m5 + pre AS n_tab,
      |    m3 * main_rows + m9 * 2 + m5 * 3 + pre * 4 AS n_row,
      |    m3 * 4 + m9 * 3 + pre * 3 + m5 * (CASE WHEN m6 = 1 THEN 0 ELSE 2 END) AS n_col
      |  FROM f WHERE m3 + m9 + m5 + pre > 0)""".stripMargin

  /** Oracles whose exact-equality claim is pinned to the driver's verify
    * corpus (sf0.01): q_minhash_dedup equates probabilistic LSH recall with
    * the exact Jaccard pair set (verified to hold there), and
    * q_simhash_dedup's only divergence channel is the maxBucket skew cap
    * (never hit there). At any OTHER scale these could legitimately
    * disagree, so Verify omits them from oracle_sql.json unless it runs at
    * sf0.01 — a recall regression still fails the driver gate by design,
    * but a scale change can't produce a spurious failure.
    */
  val scalePinnedOracles: Set[String] =
    Set("q_minhash_dedup", "q_simhash_dedup", "q_near_dup_keeper")

  // ---- shared CTE families for the hygiene/dedup oracles -----------------
  // One SQL copy per construction: the standalone oracles (q_line_dedup,
  // q_curation_pipeline, q_dup_spans, q_dup_span_coverage, q_decontaminate,
  // q_span_decontam_chain) and the full-pipeline replay (q_curate_replay)
  // interpolate the SAME fragments, so a threshold/normalization fix lands
  // everywhere at once. Fragments are pre-stripMargin'd like docFlagsCte.

  /** Midpoint-split two-line corpus with the banner planted on every 5th
    * doc (Title Case on every 10th when `titleCaseTenth`) — mirror of the
    * Scala [[midpointLined]]. Produces `linedbase`, `lined`.
    */
  private def linedCte(titleCaseTenth: Boolean): String = {
    val titleBranch =
      if (titleCaseTenth)
        "WHEN doc_id % 10 = 0\n      THEN 'Subscribe To Our Newsletter Today' || chr(10) || base\n    "
      else ""
    s"""linedbase AS (
      |  SELECT doc_id,
      |    array_to_string(l[1:len(l)//2], ' ') || chr(10) ||
      |    array_to_string(l[len(l)//2+1:len(l)], ' ') AS base
      |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)),
      |lined AS (
      |  SELECT doc_id, CASE ${titleBranch}WHEN doc_id % 5 = 0
      |      THEN 'subscribe to our newsletter today' || chr(10) || base
      |      ELSE base END AS text
      |  FROM linedbase)""".stripMargin
  }

  /** Planted near-dup twins (mirror of Dedup.withPlantedNearDups) over a
    * (doc_id, text) source CTE/table. Produces `$out`.
    */
  private def plantedTwinsCte(src: String, out: String): String =
    s"""$out AS (
      |  SELECT doc_id, text FROM $src
      |  UNION ALL
      |  SELECT doc_id + 1000000, array_to_string(l[1:greatest(len(l) - 2, 1)], ' ')
      |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM $src)
      |  WHERE doc_id % 10 = 0)""".stripMargin

  /** Normalized word tokens of a (doc_id, text) source. Produces `$out`. */
  private def toksCte(src: String, out: String): String =
    s"""$out AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS toks
      |  FROM $src)""".stripMargin

  /** Repeated-line strip (mirror of LineDedup.stripRepeatedLines, minDf=2)
    * over a lined-corpus CTE. Produces `lrow`, `lx`, `rep`, `keptl`,
    * `stripped` — docs whose every line stripped are ABSENT from
    * `stripped` (callers LEFT JOIN + coalesce '' when they must keep them).
    */
  private def lineStripCtes(src: String): String =
    s"""lrow AS (
      |  SELECT doc_id, unnest(generate_series(1, len(ls))) AS idx, ls
      |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM $src)),
      |lx AS (SELECT doc_id, idx, ls[idx] AS line FROM lrow),
      |rep AS (
      |  SELECT lower(trim(line)) AS nl FROM lx
      |  GROUP BY lower(trim(line)) HAVING count(*) >= 2),
      |keptl AS (
      |  SELECT doc_id, idx, line FROM lx
      |  WHERE lower(trim(line)) NOT IN (SELECT nl FROM rep)),
      |stripped AS (
      |  SELECT doc_id, array_to_string(list(line ORDER BY idx), chr(10)) AS text
      |  FROM keptl GROUP BY doc_id)""".stripMargin

  /** The Curation.curate gates (quality + repetition + exact-dedup min-id
    * keeper) over a (doc_id, text) source. Produces `cq`, `ctok`, `cbg`,
    * `cu`, `cc`, `cr`, `ch`, `ckept`, `ckeep`, `keep_quality(doc_id,
    * n_tokens, n_chars, dup_bigram_x1000)`.
    */
  private def curationCtes(src: String): String =
    s"""cq AS (
      |  SELECT doc_id,
      |    length(regexp_split_to_array(trim(text), '[ \\t-\\r]+')) AS n_tokens,
      |    length(text) AS n_chars
      |  FROM $src
      |  WHERE length(regexp_split_to_array(trim(text), '[ \\t-\\r]+')) >= 5
      |    AND length(text) >= length(regexp_split_to_array(trim(text), '[ \\t-\\r]+')) * 3
      |    AND length(text) <= length(regexp_split_to_array(trim(text), '[ \\t-\\r]+')) * 13
      |    AND (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) * 10 <= length(text)),
      |ctok AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS toks
      |  FROM $src),
      |cbg AS (
      |  SELECT doc_id,
      |    [toks[i] || ' ' || toks[i+1] for i in generate_series(1, len(toks) - 1)] AS bgs
      |  FROM ctok),
      |cu AS (SELECT doc_id, unnest(bgs) AS bg FROM cbg),
      |cc AS (SELECT doc_id, bg, count(*) AS cnt FROM cu GROUP BY doc_id, bg),
      |cr AS (
      |  SELECT doc_id, dup_bigram_x1000 FROM (
      |    SELECT doc_id,
      |      1000 * (CAST(sum(cnt) AS BIGINT) - CAST(count(*) AS BIGINT))
      |        // CAST(sum(cnt) AS BIGINT) AS dup_bigram_x1000
      |    FROM cc GROUP BY doc_id)
      |  WHERE dup_bigram_x1000 <= 100),
      |ch AS (SELECT doc_id, md5(text) AS content_md5 FROM $src),
      |ckept AS (
      |  SELECT ch.doc_id, ch.content_md5, cq.n_tokens, cq.n_chars, cr.dup_bigram_x1000
      |  FROM ch JOIN cq USING (doc_id) JOIN cr USING (doc_id)),
      |ckeep AS (SELECT content_md5, min(doc_id) AS doc_id FROM ckept GROUP BY content_md5),
      |keep_quality AS (
      |  SELECT k.doc_id, k.n_tokens, k.n_chars, k.dup_bigram_x1000
      |  FROM ckept k JOIN ckeep USING (content_md5, doc_id))""".stripMargin

  /** 8-gram duplicated-substring spans (mirror of DupSpans, k=8,
    * minCount=2) over a toks CTE. Produces `posn`, `grams`, `dupg`,
    * `hitsg`, `flagged`, `islands`, `spans(doc_id, s, e)`,
    * `perdoc(doc_id, dup_tokens)`.
    */
  private def dupSpanCtes(tokSrc: String): String =
    s"""posn AS (
      |  SELECT doc_id, unnest(generate_series(1, len(toks) - 7)) AS i, toks
      |  FROM $tokSrc WHERE len(toks) >= 8),
      |grams AS (
      |  SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+7], ' ') AS gram FROM posn),
      |dupg AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
      |hitsg AS (SELECT doc_id, pos FROM grams JOIN dupg USING (gram)),
      |flagged AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN coalesce(pos - lag(pos) OVER w, 8) >= 8 THEN 1 ELSE 0 END AS new_island
      |  FROM hitsg WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |islands AS (
      |  SELECT doc_id, pos,
      |    sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM flagged),
      |spans AS (
      |  SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
      |  FROM islands GROUP BY doc_id, island),
      |perdoc AS (SELECT doc_id, sum(e - s + 1) AS dup_tokens FROM spans GROUP BY doc_id)""".stripMargin

  /** The CurateMain span-coverage gate (maxDupPermille = 500, the Args
    * default) over a toks CTE; requires [[dupSpanCtes]]'s `perdoc`.
    * Produces `keep_span`.
    */
  private def spanGateCte(tokSrc: String): String =
    s"""keep_span AS (
      |  SELECT t.doc_id FROM $tokSrc t LEFT JOIN perdoc p USING (doc_id)
      |  WHERE coalesce(p.dup_tokens, 0) * 1000 <= len(t.toks) * 500)""".stripMargin

  /** Benchmark decontamination (mirror of Decontaminate, n=8): first-12-
    * token questions of `$benchTable` docs with doc_id % $mod == $rem,
    * distinct benchmark grams, per-doc distinct corpus grams (with the
    * short-text whole-text fallback) and the contaminated-id set.
    * Produces `btok`, `bitems`, `bgrams`, `dgrams`, `chits`.
    */
  private def decontamCtes(tokSrc: String, benchTable: String, mod: Int, rem: Int): String =
    s"""btok AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS toks
      |  FROM $benchTable),
      |bitems AS (
      |  SELECT array_to_string(toks[1:12], ' ') AS btext FROM btok
      |  WHERE doc_id % $mod = $rem AND len(toks) >= 8),
      |bgrams AS (
      |  SELECT DISTINCT gram FROM (
      |    SELECT unnest(CASE WHEN len(bt) < 8 THEN [array_to_string(bt, ' ')]
      |      ELSE [array_to_string(bt[i:i+7], ' ')
      |            for i in generate_series(1, len(bt) - 7)] END) AS gram
      |    FROM (SELECT list_filter(regexp_split_to_array(trim(lower(btext)), '\\s+'),
      |                 x -> x <> '') AS bt FROM bitems))),
      |dgrams AS (
      |  SELECT doc_id,
      |    unnest(CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
      |      ELSE list_distinct([array_to_string(toks[i:i+7], ' ')
      |            for i in generate_series(1, len(toks) - 7)]) END) AS gram
      |  FROM $tokSrc),
      |chits AS (SELECT DISTINCT d.doc_id FROM dgrams d JOIN bgrams b USING (gram))""".stripMargin

  /** The generator's main-text blocks (mirror of SyntheticPages' page
    * renderer + the extractor's boilerplate strip): produces `mtseed`,
    * `mtchunked`, `mtparas`, `mtblocks(doc_id, bl)` — `array_to_string(bl,
    * chr(10))` IS the extracted main_text, byte for byte. Requires
    * docFlagsCte's `f`. Shared by extract_main_text and q_extract_curate.
    */
  private val mainTextBlocksCte =
    """mtseed AS (
      |  SELECT f.doc_id, f.lang, f.m3, f.m5, d.text,
      |    string_split(d.text, ' ') AS words,
      |    (f.doc_id * 1103515245 + 12345) % 2147483647 AS pd
      |  FROM f JOIN documents d ON d.doc_id = f.doc_id),
      |mtchunked AS (
      |  SELECT *, greatest(len(words) // (2 + (pd * pd % 2147483647 + pd) % 2147483647 % 3), 1) AS chunk,
      |    2 + (pd * pd % 2147483647 + pd) % 2147483647 % 3 AS pc
      |  FROM mtseed),
      |mtparas AS (
      |  SELECT *,
      |    list_filter(
      |      [array_to_string(words[j * chunk + 1 : least((j + 1) * chunk, len(words))], ' ')
      |       for j in generate_series(0, pc - 1) if j * chunk < len(words)],
      |      x -> length(x) >= 10) AS kept
      |  FROM mtchunked),
      |mtblocks AS (
      |  SELECT doc_id,
      |    ['Synthetic page ' || CAST(doc_id AS VARCHAR)] || kept ||
      |    (CASE WHEN m5 = 1 THEN ['Second page heading'] ELSE [] END) ||
      |    (CASE WHEN m3 = 1 THEN ['This is an interesting table:'] ELSE [] END) ||
      |    (CASE WHEN lang <> 'en'
      |         THEN ['Comillas «tipográficas» y guión—largo... ‘señal ́e’ suficiente longitud aquí.']
      |         ELSE [] END) ||
      |    (CASE WHEN doc_id % 101 = 100 AND length(text) >= 10
      |         THEN [text for i in generate_series(1, 60)] ELSE [] END) AS bl
      |  FROM mtparas)""".stripMargin
  // NOTE for future fragments: a fragment line must never BEGIN with `||`
  // after its margin — the consuming oracle's outer stripMargin treats the
  // first `|` as a margin char and silently halves the operator.

  val oracles: Map[String, String] = Map(
    "extract_invariants" ->
      s"""WITH $docFlagsCte
        |SELECT $urlExpr AS url, lang,
        |  CAST(m3 + m9 + m5 + pre AS INT) AS n_tables,
        |  CAST(m3 * main_rows + m9 * 2 + m5 * 3 + pre * 4 AS INT) AS n_table_rows,
        |  CAST(m3 + m9 + m5 + pre AS INT) AS n_spans,
        |  'ok' AS status
        |FROM f""".stripMargin,
    "extract_flat_counts" ->
      s"""WITH $docFlagsCte, $docTablesCte
        |SELECT $urlExpr AS url,
        |  CAST(sum(nrows * ncols) AS BIGINT) AS n_cells,
        |  CAST(sum(nrows) AS BIGINT) AS n_rows
        |FROM t GROUP BY doc_id""".stripMargin,
    // FULL extract_pages oracle (closes the last extraction no_oracle):
    // every column — the exact main_text STRING (block reconstruction, same
    // as extract_main_text), structural counts, and html_bytes, the total
    // UTF-8 byte length of the rendered page predicted by pure arithmetic:
    // fixed scaffolding constants + doc_id digit counts + paragraph slice
    // lengths + per-row vocab/population byte lengths (octet_length over
    // the vocab VALUES — the non-ASCII names carry multi-byte chars) +
    // span-digit/pre-padding/punctuation/mega-repeat terms. Validated
    // byte-exact on all 500 sf0.01 docs before registration.
    "extract_pages" ->
      s"""WITH $docFlagsCte,
        |vocab(vi, cn, sn, st) AS (VALUES
        |  (0, 'Lantern Fox', 'Vulpes lucerna', 'stable'),
        |  (1, 'Glass Frog', 'Rana vitrea', 'declining'),
        |  (2, 'Ember Owl', 'Bubo prunae', 'endangered'),
        |  (3, 'Mirror Carp', 'Cyprinus speculum', 'stable'),
        |  (4, 'Dusk Moth', 'Tinea crepusculi', 'unknown'),
        |  (5, 'Señor Ibis', 'Eudocimus señorius', 'vulnerable'),
        |  (6, 'Straße Shrew', 'Sorex stratae', 'stable'),
        |  (7, 'Café Finch', 'Fringilla cafeata', 'declining')),
        |seed AS (
        |  SELECT f.doc_id, f.lang, f.m3, f.m6, f.m9, f.m5, f.main_rows, d.text,
        |    string_split(d.text, ' ') AS words,
        |    (f.doc_id * 1103515245 + 12345) % 2147483647 AS pd
        |  FROM f JOIN documents d ON d.doc_id = f.doc_id),
        |chunked AS (
        |  SELECT *, greatest(len(words) // (2 + (pd * pd % 2147483647 + pd) % 2147483647 % 3), 1) AS chunk,
        |    2 + (pd * pd % 2147483647 + pd) % 2147483647 % 3 AS pc
        |  FROM seed),
        |paras AS (
        |  SELECT *,
        |    [array_to_string(words[j * chunk + 1 : least((j + 1) * chunk, len(words))], ' ')
        |     for j in generate_series(0, pc - 1) if j * chunk < len(words)] AS allp
        |  FROM chunked),
        |parax AS (
        |  SELECT *, list_filter(allp, x -> length(x) >= 10) AS kept,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), [7 + length(p) for p in allp]), (a, b) -> a + b) AS para_bytes
        |  FROM paras),
        |mainseed AS (
        |  SELECT doc_id, u.i AS ri,
        |    ((doc_id + 7 + u.i) * 1103515245 + 12345) % 2147483647 AS pv,
        |    ((doc_id * 31 + u.i) * 1103515245 + 12345) % 2147483647 AS pp
        |  FROM f, UNNEST(generate_series(0, main_rows - 1)) u(i) WHERE m3 = 1),
        |mainrow AS (
        |  SELECT doc_id, ri,
        |    CAST((pv * pv % 2147483647 + pv) % 2147483647 % 8 AS INT) AS vi,
        |    (pp * pp % 2147483647 + pp) % 2147483647 % 9000 + 100 AS pop
        |  FROM mainseed),
        |main_sum AS (
        |  SELECT doc_id, CAST(sum(45 + octet_length(encode(v.cn)) + octet_length(encode(v.sn)) + octet_length(encode(v.st))
        |    + length(CAST(pop AS VARCHAR))) AS BIGINT) AS b
        |  FROM mainrow JOIN vocab v USING (vi) GROUP BY doc_id),
        |contseed AS (
        |  SELECT doc_id, ((doc_id + 23 + u.i) * 1103515245 + 12345) % 2147483647 AS pv
        |  FROM f, UNNEST(generate_series(0, 2)) u(i) WHERE m5 = 1),
        |cont_sum AS (
        |  SELECT doc_id, CAST(sum(27 + octet_length(encode(v.cn)) + octet_length(encode(v.sn))) AS BIGINT) AS b
        |  FROM (SELECT doc_id, CAST((pv * pv % 2147483647 + pv) % 2147483647 % 8 AS INT) AS vi FROM contseed)
        |  JOIN vocab v USING (vi) GROUP BY doc_id),
        |preseed7 AS (
        |  SELECT doc_id,
        |    ((doc_id + 13 + u.i) * 1103515245 + 12345) % 2147483647 AS pv
        |  FROM f, UNNEST(generate_series(0, 2)) u(i) WHERE doc_id % 7 = 1),
        |pre_sum AS (
        |  SELECT doc_id, CAST(sum(30 + octet_length(encode(v.cn)) - length(v.cn) + length(v.st)) AS BIGINT) AS b
        |  FROM (SELECT doc_id, CAST((pv * pv % 2147483647 + pv) % 2147483647 % 8 AS INT) AS vi FROM preseed7)
        |  JOIN vocab v USING (vi) GROUP BY doc_id),
        |kseed AS (
        |  SELECT doc_id, ((doc_id + 3) * 1103515245 + 12345) % 2147483647 AS pk FROM f WHERE m9 = 1),
        |kdig AS (
        |  SELECT doc_id, length(CAST((pk * pk % 2147483647 + pk) % 2147483647 % 100 AS VARCHAR)) AS d
        |  FROM kseed),
        |blocks AS (
        |  SELECT p.doc_id, p.lang, p.m3, p.m6, p.m9, p.m5, p.text, p.para_bytes,
        |    ['Synthetic page ' || CAST(p.doc_id AS VARCHAR)] || p.kept
        |    || (CASE WHEN p.m5 = 1 THEN ['Second page heading'] ELSE [] END)
        |    || (CASE WHEN p.m3 = 1 THEN ['This is an interesting table:'] ELSE [] END)
        |    || (CASE WHEN p.lang <> 'en'
        |         THEN ['Comillas «tipográficas» y guión—largo... ‘señal ́e’ suficiente longitud aquí.']
        |         ELSE [] END)
        |    || (CASE WHEN p.doc_id % 101 = 100 AND length(p.text) >= 10
        |         THEN [p.text for i in generate_series(1, 60)] ELSE [] END) AS bl
        |  FROM parax p)
        |SELECT printf('https://synthetic.example.org/doc/%08d', b.doc_id) AS url, b.lang,
        |  array_to_string(b.bl, chr(10)) AS main_text,
        |  CAST(f.m3 + f.m9 + f.m5 + f.pre AS INT) AS n_tables,
        |  CAST(f.m3 + f.m9 + f.m5 + f.pre AS INT) AS n_spans,
        |  'ok' AS status,
        |  CAST(425 + 2 * length(CAST(b.doc_id AS VARCHAR))
        |    + b.para_bytes
        |    + CASE WHEN b.m5 = 1 THEN 121 + coalesce(cs.b, 0) ELSE 0 END
        |    + CASE WHEN b.m3 = 1 THEN 36 + CASE WHEN b.m6 = 1 THEN 104 ELSE 7 END + coalesce(ms.b, 0) + 8 ELSE 0 END
        |    + CASE WHEN b.m9 = 1 THEN 172 + coalesce(kd.d, 0) ELSE 0 END
        |    + CASE WHEN b.doc_id % 7 = 1 THEN 41 + coalesce(ps.b, 0) + 6 ELSE 0 END
        |    + CASE WHEN b.lang <> 'en' THEN 96 ELSE 0 END
        |    + CASE WHEN b.doc_id % 101 = 100 THEN 60 * (7 + length(b.text)) ELSE 0 END
        |   AS BIGINT) AS html_bytes
        |FROM blocks b
        |JOIN f ON f.doc_id = b.doc_id
        |LEFT JOIN main_sum ms ON ms.doc_id = b.doc_id
        |LEFT JOIN cont_sum cs ON cs.doc_id = b.doc_id
        |LEFT JOIN pre_sum ps ON ps.doc_id = b.doc_id
        |LEFT JOIN kdig kd ON kd.doc_id = b.doc_id""".stripMargin,
    // main-text reconstruction: the kept-block sequence is a pure function
    // of (doc_id, text, lang) — h1 heading, word-chunk paragraphs (kept at
    // >= 10 chars, link-free), the page-2 h2, the m3 table intro, the
    // NFKC-normalized punctuation paragraph (U+2026 -> "...", U+00B4 ->
    // space + U+0301 — the literal below is the normalized form), and 60
    // mega-page text repeats every 101st doc. Nav/header/footer are
    // boilerplate (dropped); <pre> and table content never enter blocks.
    "extract_main_text" ->
      s"""WITH $docFlagsCte,
        |$mainTextBlocksCte
        |SELECT $urlExpr AS url, md5(array_to_string(bl, chr(10))) AS main_text_md5
        |FROM mtblocks""".stripMargin,
    // FULL CONTENT oracle (round-3 stretch): every flattened cell STRING is
    // recomputed from the generator arithmetic — vocab pick and population
    // via the 31-bit LCG+scramble hash (SyntheticPages.mix), span
    // resolution (rowspan fill + colspan duplication), th-header lifting
    // vs numeric names, and the <pre> whitespace grid with its unpromoted
    // header line. The oracle never parses HTML; it predicts what the
    // tokenizer+grid+flatten pipeline MUST produce.
    "extract_tables_flat" ->
      s"""WITH $docFlagsCte,
        |vocab(vi, cn, sn, st) AS (VALUES
        |  (0, 'Lantern Fox', 'Vulpes lucerna', 'stable'),
        |  (1, 'Glass Frog', 'Rana vitrea', 'declining'),
        |  (2, 'Ember Owl', 'Bubo prunae', 'endangered'),
        |  (3, 'Mirror Carp', 'Cyprinus speculum', 'stable'),
        |  (4, 'Dusk Moth', 'Tinea crepusculi', 'unknown'),
        |  (5, 'Señor Ibis', 'Eudocimus señorius', 'vulnerable'),
        |  (6, 'Straße Shrew', 'Sorex stratae', 'stable'),
        |  (7, 'Café Finch', 'Fringilla cafeata', 'declining')),
        |mainseed AS (
        |  SELECT doc_id, m6, CASE WHEN m5 = 1 THEN 2 ELSE 1 END AS page, u.i AS ri,
        |    ((doc_id + 7 + u.i) * 1103515245 + 12345) % 2147483647 AS pv,
        |    ((doc_id * 31 + u.i) * 1103515245 + 12345) % 2147483647 AS pp
        |  FROM f, UNNEST(generate_series(0, main_rows - 1)) u(i) WHERE m3 = 1),
        |mainrow AS (
        |  SELECT doc_id, m6, page, ri,
        |    CAST((pv * pv % 2147483647 + pv) % 2147483647 % 8 AS INT) AS vi,
        |    (pp * pp % 2147483647 + pp) % 2147483647 % 9000 + 100 AS pop
        |  FROM mainseed),
        |main_cells AS (
        |  SELECT doc_id, 0 AS ti, page, ri,
        |    CASE WHEN m6 = 1 THEN 'common_name' ELSE '0' END AS col_name, v.cn AS value
        |  FROM mainrow JOIN vocab v USING (vi)
        |  UNION ALL
        |  SELECT doc_id, 0, page, ri,
        |    CASE WHEN m6 = 1 THEN 'scientific_name' ELSE '1' END, v.sn
        |  FROM mainrow JOIN vocab v USING (vi)
        |  UNION ALL
        |  SELECT doc_id, 0, page, ri, CASE WHEN m6 = 1 THEN 'status' ELSE '2' END, v.st
        |  FROM mainrow JOIN vocab v USING (vi)
        |  UNION ALL
        |  SELECT doc_id, 0, page, ri,
        |    CASE WHEN m6 = 1 THEN 'estimated_population' ELSE '3' END, CAST(pop AS VARCHAR)
        |  FROM mainrow),
        |spanseed AS (
        |  SELECT doc_id, CASE WHEN m5 = 1 THEN 2 ELSE 1 END AS page,
        |    ((doc_id + 3) * 1103515245 + 12345) % 2147483647 AS pk
        |  FROM f WHERE m9 = 1),
        |span_cells AS (
        |  SELECT doc_id, 1 AS ti, page, 0 AS ri, c.col_name, c.value
        |  FROM spanseed, (VALUES ('region', 'Northern Isles'), ('group', 'birds'),
        |                         ('count', '12')) c(col_name, value)
        |  UNION ALL
        |  SELECT doc_id, 1, page, 1, cc.col_name,
        |    CASE WHEN cc.col_name = 'region' THEN 'Northern Isles'
        |         ELSE 'mixed ' || CAST((pk * pk % 2147483647 + pk) % 2147483647 % 100 AS VARCHAR)
        |    END
        |  FROM spanseed, (VALUES ('region'), ('group'), ('count')) cc(col_name)),
        |contseed AS (
        |  SELECT doc_id, m3 + m9 AS ti, u.i AS ri,
        |    ((doc_id + 23 + u.i) * 1103515245 + 12345) % 2147483647 AS pv
        |  FROM f, UNNEST(generate_series(0, 2)) u(i) WHERE m5 = 1),
        |controw AS (
        |  SELECT doc_id, ti, ri,
        |    CAST((pv * pv % 2147483647 + pv) % 2147483647 % 8 AS INT) AS vi
        |  FROM contseed),
        |cont_cells AS (
        |  SELECT doc_id, ti, 2 AS page, ri, 'common_name' AS col_name, v.cn AS value
        |  FROM controw JOIN vocab v USING (vi)
        |  UNION ALL
        |  SELECT doc_id, ti, 2, ri, 'scientific_name', v.sn FROM controw JOIN vocab v USING (vi)),
        |preseed AS (
        |  SELECT doc_id, u.i AS ri,
        |    ((doc_id + 13 + u.i) * 1103515245 + 12345) % 2147483647 AS pv,
        |    ((doc_id * 31 + u.i) * 1103515245 + 12345) % 2147483647 AS pp
        |  FROM f, UNNEST(generate_series(0, 2)) u(i) WHERE pre = 1),
        |prerow AS (
        |  SELECT doc_id, ri,
        |    CAST((pv * pv % 2147483647 + pv) % 2147483647 % 8 AS INT) AS vi,
        |    (pp * pp % 2147483647 + pp) % 2147483647 % 9000 + 100 AS pop
        |  FROM preseed),
        |pre_cells AS (
        |  SELECT doc_id, 0 AS ti, 1 AS page, 0 AS ri, c.col_name, c.value
        |  FROM f, (VALUES ('0', 'Name'), ('1', 'Population'), ('2', 'Trend')) c(col_name, value)
        |  WHERE pre = 1
        |  UNION ALL
        |  SELECT doc_id, 0, 1, ri + 1, '0', v.cn FROM prerow JOIN vocab v USING (vi)
        |  UNION ALL
        |  SELECT doc_id, 0, 1, ri + 1, '1', CAST(pop AS VARCHAR) FROM prerow
        |  UNION ALL
        |  SELECT doc_id, 0, 1, ri + 1, '2', v.st FROM prerow JOIN vocab v USING (vi)),
        |cells AS (
        |  SELECT * FROM main_cells UNION ALL SELECT * FROM span_cells
        |  UNION ALL SELECT * FROM cont_cells UNION ALL SELECT * FROM pre_cells)
        |SELECT $urlExpr AS url, CAST(ti AS INT) AS table_idx, 0 AS frag_idx,
        |  CAST(page AS INT) AS page, CAST(ri AS INT) AS row_idx, col_name, value
        |FROM cells""".stripMargin,
    "merge_agreement" ->
      s"""WITH $docFlagsCte, $docTablesCte
        |SELECT $urlExpr AS doc_id,
        |  2 AS n_runs, CAST(table_idx AS INT) AS table_idx, 0 AS frag_idx,
        |  CAST(page AS INT) AS page, CAST(u.i AS INT) AS row_idx,
        |  CAST(u.i AS INT) AS row_, 2 AS agreement_level_, 2 AS n_sources
        |FROM t, UNNEST(generate_series(0, nrows - 1)) u(i)""".stripMargin,
    // per-column cell counts + doc counts from the generator arithmetic:
    // m6-headed main tables carry the 4 semantic names, m5 continuations
    // carry 2 of them, m9 span tables carry region/group/count, and
    // headerless main / pre tables get positional names "0".."3" / "0".."2"
    // (every merged row agrees across both runs -> agreement_level_ = 2)
    "q_merged_column_agreement" ->
      s"""WITH $docFlagsCte,
        |per AS (
        |  SELECT 'common_name' AS col_name,
        |    CAST(sum(m6 * main_rows + m5 * 3) AS BIGINT) AS n_cells,
        |    CAST(sum(CASE WHEN m6 = 1 OR m5 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs FROM f
        |  UNION ALL SELECT 'scientific_name', CAST(sum(m6 * main_rows + m5 * 3) AS BIGINT),
        |    CAST(sum(CASE WHEN m6 = 1 OR m5 = 1 THEN 1 ELSE 0 END) AS BIGINT) FROM f
        |  UNION ALL SELECT 'status', CAST(sum(m6 * main_rows) AS BIGINT), CAST(sum(m6) AS BIGINT) FROM f
        |  UNION ALL SELECT 'estimated_population', CAST(sum(m6 * main_rows) AS BIGINT), CAST(sum(m6) AS BIGINT) FROM f
        |  UNION ALL SELECT 'region', CAST(sum(m9 * 2) AS BIGINT), CAST(sum(m9) AS BIGINT) FROM f
        |  UNION ALL SELECT 'group', CAST(sum(m9 * 2) AS BIGINT), CAST(sum(m9) AS BIGINT) FROM f
        |  UNION ALL SELECT 'count', CAST(sum(m9 * 2) AS BIGINT), CAST(sum(m9) AS BIGINT) FROM f
        |  UNION ALL SELECT '0', CAST(sum((m3 - m6) * main_rows + pre * 4) AS BIGINT),
        |    CAST(sum(CASE WHEN (m3 = 1 AND m6 = 0) OR pre = 1 THEN 1 ELSE 0 END) AS BIGINT) FROM f
        |  UNION ALL SELECT '1', CAST(sum((m3 - m6) * main_rows + pre * 4) AS BIGINT),
        |    CAST(sum(CASE WHEN (m3 = 1 AND m6 = 0) OR pre = 1 THEN 1 ELSE 0 END) AS BIGINT) FROM f
        |  UNION ALL SELECT '2', CAST(sum((m3 - m6) * main_rows + pre * 4) AS BIGINT),
        |    CAST(sum(CASE WHEN (m3 = 1 AND m6 = 0) OR pre = 1 THEN 1 ELSE 0 END) AS BIGINT) FROM f
        |  UNION ALL SELECT '3', CAST(sum((m3 - m6) * main_rows) AS BIGINT),
        |    CAST(sum(m3 - m6) AS BIGINT) FROM f)
        |SELECT col_name, 2 AS agreement_level_, n_cells, n_docs
        |FROM per WHERE n_cells > 0""".stripMargin,
    "tablestats_per_doc" ->
      s"""WITH $docFlagsCte, $perDocStatsCte
        |SELECT $urlExpr AS doc_id,
        |  CAST(n_tab AS BIGINT) AS tables, CAST(n_tab AS BIGINT) AS fragments,
        |  CAST(n_row AS BIGINT) AS "rows", CAST(n_row AS BIGINT) AS unique_rows,
        |  CAST(n_col AS BIGINT) AS "columns", CAST(n_row AS BIGINT) AS rows_with_agreement,
        |  CAST(0 AS BIGINT) AS empty_rows, CAST(0 AS BIGINT) AS rows_in_shared_groups,
        |  CAST(0 AS BIGINT) AS rows_with_shared_values
        |FROM per""".stripMargin,
    "tablestats_sorted" ->
      s"""WITH $docFlagsCte, $perDocStatsCte
        |SELECT $urlExpr AS doc_id,
        |  CAST(n_tab AS BIGINT) AS tables, CAST(n_tab AS BIGINT) AS fragments,
        |  CAST(n_row AS BIGINT) AS "rows", CAST(n_row AS BIGINT) AS unique_rows,
        |  CAST(n_col AS BIGINT) AS "columns", CAST(n_row AS BIGINT) AS rows_with_agreement,
        |  CAST(0 AS BIGINT) AS empty_rows, CAST(0 AS BIGINT) AS rows_in_shared_groups,
        |  CAST(0 AS BIGINT) AS rows_with_shared_values
        |FROM per""".stripMargin,
    "tablestats_empty" ->
      s"""WITH $docFlagsCte
        |SELECT $urlExpr AS url FROM f WHERE m3 + m9 + m5 + pre = 0""".stripMargin,
    "tablestats_global" ->
      s"""WITH $docFlagsCte, $perDocStatsCte
        |SELECT count(*) AS papers,
        |  CAST(sum(n_tab) AS BIGINT) AS tables, CAST(sum(n_tab) AS BIGINT) AS fragments,
        |  CAST(sum(n_row) AS BIGINT) AS "rows", CAST(sum(n_row) AS BIGINT) AS unique_rows,
        |  CAST(sum(n_row) AS BIGINT) AS rows_with_agreement,
        |  CAST(0 AS BIGINT) AS rows_in_shared_groups,
        |  CAST(0 AS BIGINT) AS rows_with_shared_values,
        |  CASE WHEN sum(n_row) > 0 THEN CAST(sum(n_row) AS DOUBLE) / sum(n_row) * 100 END
        |    AS global_agreement_percentage,
        |  CAST(NULL AS DOUBLE) AS global_shared_values_percentage
        |FROM per""".stripMargin,
    "tablestats_column_types" ->
      s"""WITH $docFlagsCte
        |SELECT column_name, inferred_type, CAST(n AS BIGINT) AS n_tables FROM (
        |  SELECT 'common_name' AS column_name, 'str' AS inferred_type, sum(m6 + m5) AS n FROM f
        |  UNION ALL SELECT 'scientific_name', 'str', sum(m6 + m5) FROM f
        |  UNION ALL SELECT 'status', 'str', sum(m6) FROM f
        |  UNION ALL SELECT 'estimated_population', 'int', sum(m6) FROM f
        |  UNION ALL SELECT 'region', 'str', sum(m9) FROM f
        |  UNION ALL SELECT 'group', 'str', sum(m9) FROM f
        |  UNION ALL SELECT 'count', 'int', sum(m9) FROM f)""".stripMargin,
    "extract_mapped" ->
      s"""SELECT $urlExpr AS url, 'Mapped Atlas (2031)' AS citation,
        |  CAST(CASE WHEN doc_id % 5 = 4 THEN 0 ELSE 1 END AS INT) AS n_tables
        |FROM documents WHERE doc_id % 6 = 0""".stripMargin,
    // WARC round-trip: same structural prediction as extract_invariants
    // plus the WARC-Date second (writer stamps 2025-01-01T00:00:00Z +
    // doc_id seconds; reader parses ISO-8601 to the timestamp the query
    // reduces to epoch seconds)
    "q_warc_roundtrip" ->
      s"""WITH $docFlagsCte
        |SELECT $urlExpr AS url,
        |  CAST(1735689600 + doc_id AS BIGINT) AS warc_epoch,
        |  CAST(m3 + m9 + m5 + pre AS INT) AS n_tables,
        |  CAST(m3 * main_rows + m9 * 2 + m5 * 3 + pre * 4 AS INT) AS n_table_rows,
        |  CAST(m3 + m9 + m5 + pre AS INT) AS n_spans,
        |  'ok' AS status
        |FROM f""".stripMargin,
    // micro-batch planning arithmetic: batch k = the doc_id % 4 == k
    // segment, delivered whole (2 files — fixed by repartition(2)); record
    // count and id-sum are pure doc_id functions
    "q_warc_stream_batches" ->
      """SELECT CAST(doc_id % 4 AS BIGINT) AS batch,
        |  CAST(2 AS BIGINT) AS n_new_files,
        |  count(*) AS n_records,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
        |FROM documents GROUP BY doc_id % 4""".stripMargin,
    // Sliding-TTL dedup closed form (see StreamReplay.ttlDedupReplay): a
    // present (key, batch) cell emits its min doc_id iff the key's previous
    // present batch is >= 4 batches back (60 s spacing, 90 s TTL, delay 0).
    "q_stream_ttl_dedup" ->
      """WITH present AS (
        |  SELECT doc_id % 10 AS content_key, (doc_id // 10) % 8 AS batch,
        |         min(doc_id) AS doc_id
        |  FROM documents
        |  WHERE doc_id < 500
        |    AND ((CASE WHEN doc_id % 10 = 0 THEN 255
        |               ELSE ((doc_id % 10) * 37 + 11) % 256 END)
        |         // ([1,2,4,8,16,32,64,128])[CAST((doc_id // 10) % 8 AS INTEGER) + 1]) % 2 = 1
        |  GROUP BY 1, 2),
        |seq AS (
        |  SELECT content_key, batch, doc_id,
        |         lag(batch) OVER (PARTITION BY content_key ORDER BY batch) AS prev_b
        |  FROM present)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |       CAST(content_key AS BIGINT) AS content_key,
        |       CAST(batch AS BIGINT) AS batch
        |FROM seq WHERE prev_b IS NULL OR batch - prev_b >= 4""".stripMargin,
    // Append-mode watermark gating (see StreamReplay.rateAggReplay): final
    // watermark = T0 + 47.5 min flushes exactly the windows of steps 0..17.
    "q_stream_rate_agg" ->
      """SELECT CAST(1735689600000 + ((doc_id % 24) // 2) * 300000 AS BIGINT) AS window_start_ms,
        |       'l' || CAST(doc_id % 5 AS VARCHAR) AS lang,
        |       count(*) AS pages,
        |       CAST(sum(length(text)) AS BIGINT) AS text_chars
        |FROM documents
        |WHERE doc_id < 500 AND doc_id % 24 < 18
        |GROUP BY 1, 2""".stripMargin,
    "q_cosine_near_dup" ->
      """WITH planted AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.001)
        |  FROM embeddings WHERE vec_id % 25 = 0)
        |SELECT a.vec_id AS a, b.vec_id AS b
        |FROM planted a, planted b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(a.emb, b.emb) >= 0.95""".stripMargin,
    "q_minhash_verify_exact" ->
      """WITH planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, array_to_string(l[1:greatest(len(l) - 2, 1)], ' ')
        |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
        |  WHERE doc_id % 10 = 0),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
        |                             for i in generate_series(1, len(toks) - 2)]) END AS s
        |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                     x -> x <> '') AS toks FROM planted))
        |SELECT a.doc_id AS a, b.doc_id AS b
        |FROM sh a, sh b
        |WHERE a.doc_id < b.doc_id
        |  AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      len(list_distinct(list_concat(a.s, b.s))) >= 0.5""".stripMargin,
    "q_near_dup_keeper" ->
      """WITH RECURSIVE planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, array_to_string(l[1:greatest(len(l) - 2, 1)], ' ')
        |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
        |  WHERE doc_id % 10 = 0),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
        |                             for i in generate_series(1, len(toks) - 2)]) END AS s
        |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                     x -> x <> '') AS toks FROM planted)),
        |base AS (
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
        |edges AS (SELECT src, dst FROM base UNION SELECT dst, src FROM base),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM planted
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
        |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT id AS doc_id, cluster_id AS kept_id FROM cl WHERE id <> cluster_id""".stripMargin,
    // same ground-truth pair set as the exact verify: LSH recall over the
    // planted corpus is exact (verified: both return identical 81 pairs at
    // sf0.01, the driver's correctness scale) — a recall regression now
    // fails the driver gate by design. NOTE: this equality is pinned to the
    // sf0.01 corpus; LSH is probabilistic-recall in general, so at OTHER
    // scale factors a marginal >=0.5-Jaccard coincidental pair may miss all
    // 8 bands and the exact oracle would legitimately disagree — if the
    // driver's verify scale ever changes, re-check or drop this oracle
    // (q_minhash_verify_exact keeps the semantics covered either way).
    "q_minhash_dedup" ->
      """WITH planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, array_to_string(l[1:greatest(len(l) - 2, 1)], ' ')
        |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
        |  WHERE doc_id % 10 = 0),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
        |                             for i in generate_series(1, len(toks) - 2)]) END AS s
        |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                     x -> x <> '') AS toks FROM planted))
        |SELECT a.doc_id AS a, b.doc_id AS b
        |FROM sh a, sh b
        |WHERE a.doc_id < b.doc_id
        |  AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      len(list_distinct(list_concat(a.s, b.s))) >= 0.5""".stripMargin,
    // stride = 40 - 8 = 32; window k emitted when k = 0 or k*32 + 8 < n
    // (a window starting past n - overlap is contained in its predecessor)
    "q_chunk_windows" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents)
        |SELECT doc_id, CAST(u.k AS INT) AS chunk_idx,
        |  CAST(least(u.k * 32 + 40, len(toks)) - u.k * 32 AS INT) AS n_chunk_tokens,
        |  array_to_string(toks[u.k * 32 + 1 : least(u.k * 32 + 40, len(toks))], ' ')
        |    AS chunk_text
        |FROM tok, UNNEST(generate_series(0, greatest(len(toks) // 32, 0))) u(k)
        |WHERE u.k = 0 OR u.k * 32 + 8 < len(toks)""".stripMargin,
    "q_pii_redact" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          text || ' contact user' || CAST(doc_id AS VARCHAR)
        |            || '@mail' || CAST(doc_id % 7 AS VARCHAR)
        |            || '.example.org or 555-' || CAST(doc_id % 9000 + 1000 AS VARCHAR)
        |            || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
        |            || '.0.' || CAST(doc_id % 100 AS VARCHAR)
        |            || ' call (' || CAST(doc_id % 800 + 200 AS VARCHAR)
        |            || ') ' || CAST(doc_id % 900 + 100 AS VARCHAR)
        |            || '-' || CAST(doc_id % 9000 + 1000 AS VARCHAR)
        |            || ' or +1 ' || CAST(doc_id % 800 + 200 AS VARCHAR)
        |            || '.' || CAST(doc_id % 900 + 100 AS VARCHAR)
        |            || '.' || CAST(doc_id % 9000 + 1000 AS VARCHAR)
        |            || ' on 2024-01-' || CAST(doc_id % 28 + 1 AS VARCHAR),
        |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
        |        '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |      '(\+1[-. ]?|\b1[-. ])?(\([0-9]{3}\)[-. ]?|\b[0-9]{3}[-. ])[0-9]{3}[-. ]?[0-9]{4}\b', '<PHONE>', 'g'),
        |    '\b[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g') AS redacted
        |FROM documents""".stripMargin,
    "q_token_freq_quality" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                       x -> x <> '')) AS tok
        |  FROM documents),
        |vocab AS (
        |  SELECT tok, count(*) AS freq FROM tok GROUP BY tok
        |  ORDER BY freq DESC, tok ASC LIMIT 200),
        |j AS (SELECT t.doc_id, v.freq FROM tok t LEFT JOIN vocab v USING (tok))
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN freq IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST(sum(coalesce(freq, 0)) AS BIGINT) AS vocab_mass
        |FROM j GROUP BY doc_id""".stripMargin,
    "q_lang_id" ->
      """WITH t AS (SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |           FROM documents),
        |h AS (SELECT doc_id, lang,
        |  len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','in','den','von','mit','für','auf','ein'], x))) AS h_de,
        |  len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is','it','for','with','that','this'], x))) AS h_en,
        |  len(list_filter(toks, x -> list_contains(['el','la','de','que','y','en','un','una','los','las','por','con'], x))) AS h_es,
        |  len(list_filter(toks, x -> list_contains(['le','la','de','et','les','des','un','une','est','dans','pour','que'], x))) AS h_fr,
        |  len(list_filter(toks, x -> list_contains(['的','是','在','了','和','有','我','他','这','中','大','上'], x))) AS h_zh
        |  FROM t)
        |SELECT doc_id, lang,
        |  CASE WHEN greatest(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
        |       WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de >= h_zh THEN 'de'
        |       WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_zh THEN 'en'
        |       WHEN h_es >= h_fr AND h_es >= h_zh THEN 'es'
        |       WHEN h_fr >= h_zh THEN 'fr'
        |       ELSE 'zh' END AS predicted_lang
        |FROM h""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id, length(regexp_split_to_array(trim(text), '[ \t-\r]+')) AS n_tokens
        |FROM documents""".stripMargin,
    // identical GPT-2-ish pattern (RE2-safe subset; '' = escaped quote)
    "q_token_count_bpe" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' it''s v2.0 #' || CAST(doc_id AS VARCHAR)
        |      || ', cost $' || CAST(doc_id % 97 AS VARCHAR) || '.50!' AS t
        |  FROM documents)
        |SELECT doc_id,
        |  length(regexp_split_to_array(trim(t), '[ \t-\r]+')) AS n_tokens_ws,
        |  length(regexp_extract_all(t,
        |    '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t-\r]+|[ \t-\r]+'))
        |    AS n_tokens_bpe
        |FROM p""".stripMargin,
    "q_quality_score" ->
      """SELECT doc_id, length(text) AS n_chars,
        |  length(regexp_split_to_array(trim(text), '[ \t-\r]+')) AS n_tokens,
        |  length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS n_alpha,
        |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
        |  (length(regexp_split_to_array(trim(text), '[ \t-\r]+')) >= 5
        |   AND length(text) >= length(regexp_split_to_array(trim(text), '[ \t-\r]+')) * 3
        |   AND length(text) <= length(regexp_split_to_array(trim(text), '[ \t-\r]+')) * 13
        |   AND (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) * 10 <= length(text)
        |  ) AS quality_ok
        |FROM documents""".stripMargin,
    "q_doc_fingerprint_md5" ->
      "SELECT doc_id, md5(lower(trim(text))) AS fingerprint FROM documents",
    // same polynomial recompute as q_fingerprint_poly but seed 13 (the
    // rolling fingerprint's independent hash instance) + distinct-gram count
    "q_fingerprint_rolling" ->
      """WITH tok AS (
        |  SELECT doc_id, trim(lower(text)) AS t,
        |         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                     x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, t,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE [array_to_string(toks[i:i+2], ' ')
        |               for i in generate_series(1, len(toks) - 2)] END AS grams
        |  FROM tok)
        |SELECT doc_id,
        |  list_reduce(list_prepend(CAST(13 AS BIGINT),
        |    [unicode(c) for c in regexp_split_to_array(t, '')]),
        |    (acc, x) -> (acc * 31 + x) % 2147483647) AS full_hash,
        |  list_min([list_reduce(list_prepend(CAST(13 AS BIGINT),
        |    [unicode(c) for c in regexp_split_to_array(gr, '')]),
        |    (acc, x) -> (acc * 31 + x) % 2147483647) for gr in grams]) AS min_gram_hash,
        |  len(list_distinct(grams)) AS n_distinct_grams
        |FROM g""".stripMargin,
    "q_fingerprint_poly" ->
      """WITH tok AS (
        |  SELECT doc_id, trim(lower(text)) AS t,
        |         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                     x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, t,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE [array_to_string(toks[i:i+2], ' ')
        |               for i in generate_series(1, len(toks) - 2)] END AS grams
        |  FROM tok)
        |SELECT doc_id,
        |  list_reduce(list_prepend(CAST(7 AS BIGINT),
        |    [unicode(c) for c in regexp_split_to_array(t, '')]),
        |    (acc, x) -> (acc * 31 + x) % 2147483647) AS poly_hash,
        |  list_min([list_reduce(list_prepend(CAST(7 AS BIGINT),
        |    [unicode(c) for c in regexp_split_to_array(gr, '')]),
        |    (acc, x) -> (acc * 31 + x) % 2147483647) for gr in grams]) AS min_gram_poly
        |FROM g""".stripMargin,
    // exact winnowing recompute: same ORDERED grams (no distinct — window
    // position matters), same poly hash, same w=4 sliding minima, then the
    // distinct fingerprint set summarized identically
    "q_fingerprint_winnow" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                     x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE [array_to_string(toks[i:i+2], ' ')
        |               for i in generate_series(1, len(toks) - 2)] END AS grams
        |  FROM tok),
        |h AS (
        |  SELECT doc_id,
        |    [list_reduce(list_prepend(CAST(7 AS BIGINT),
        |       [unicode(c) for c in regexp_split_to_array(gr, '')]),
        |       (acc, x) -> (acc * 31 + x) % 2147483647) for gr in grams] AS hs
        |  FROM g),
        |m AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(hs) <= 4 THEN [list_min(hs)]
        |      ELSE [list_min(hs[i:i+3]) for i in generate_series(1, len(hs) - 3)] END) AS fp
        |  FROM h)
        |SELECT doc_id, len(fp) AS n_fp, list_min(fp) AS fp_min,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), fp), (a, b) -> a + b) AS fp_sum
        |FROM m""".stripMargin,
    "q_exact_dedup_md5" ->
      """SELECT md5(text) AS content_md5, min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM documents GROUP BY md5(text)""".stripMargin,
    // per-variant hand-derived canonical forms — independent of the
    // engine's regex implementation
    "q_url_canonical" ->
      """SELECT doc_id,
        |  CASE doc_id % 4
        |    WHEN 0 THEN 'http://example.com/Doc/' || CAST(doc_id AS VARCHAR) || '?a=1&b=2'
        |    WHEN 1 THEN 'https://mirror.example.org/doc/' || CAST(doc_id AS VARCHAR)
        |    WHEN 2 THEN 'https://mirror.example.org/doc/' || CAST(doc_id AS VARCHAR) || '?a=1&z=9'
        |    ELSE 'http://example.com/doc/' || CAST(doc_id AS VARCHAR) END AS canonical_url,
        |  CASE WHEN doc_id % 4 IN (1, 2) THEN 'mirror.example.org'
        |       ELSE 'example.com' END AS host
        |FROM documents""".stripMargin,
    // the same composition, recomputed stage by stage: planted twins
    // (UNION ALL), the quality predicate, the bigram repeat-mass gate,
    // then min-doc_id-per-md5 keeper selection
    "q_curation_pipeline" ->
      s"""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 17 = 0),
        |${curationCtes("corpus")}
        |SELECT doc_id, n_tokens, n_chars, dup_bigram_x1000 FROM keep_quality""".stripMargin,
    "q_token_budget_cap" ->
      """WITH r AS (
        |  SELECT doc_id, source, n_chars,
        |    sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
        |  FROM documents)
        |SELECT doc_id, source, n_chars FROM r WHERE running <= 3000""".stripMargin,
    "q_stratified_sample" ->
      """WITH ph AS (
        |  SELECT doc_id, source,
        |    list_reduce(list_prepend(CAST(7 AS BIGINT),
        |      [unicode(c) for c in regexp_split_to_array(CAST(doc_id AS VARCHAR), '')]),
        |      (acc, x) -> (acc * 31 + x) % 2147483647) % 10000 AS bucket
        |  FROM documents)
        |SELECT doc_id, source FROM ph
        |WHERE bucket < CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
        |                           WHEN 'src2' THEN 2500 ELSE 1000 END""".stripMargin,
    // same gates as q_curation_pipeline, but over the host-capped corpus
    // (no planted twins — the cap itself creates the selection pressure)
    "q_skew_cap_curation" ->
      """WITH h AS (
        |  SELECT doc_id, text,
        |    CASE WHEN doc_id % 3 = 0 THEN 'mega.example.org'
        |         ELSE 'h' || CAST(doc_id % 20 AS VARCHAR) || '.example.org'
        |    END AS host
        |  FROM documents),
        |rk AS (
        |  SELECT doc_id, text,
        |         row_number() OVER (PARTITION BY host ORDER BY doc_id) AS rk
        |  FROM h),
        |corpus AS (SELECT doc_id, text FROM rk WHERE rk <= 40),
        |q AS (
        |  SELECT doc_id,
        |    length(regexp_split_to_array(trim(text), '[ \t-\r]+')) AS n_tokens,
        |    length(text) AS n_chars
        |  FROM corpus
        |  WHERE length(regexp_split_to_array(trim(text), '[ \t-\r]+')) >= 5
        |    AND length(text) >= length(regexp_split_to_array(trim(text), '[ \t-\r]+')) * 3
        |    AND length(text) <= length(regexp_split_to_array(trim(text), '[ \t-\r]+')) * 13
        |    AND (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) * 10 <= length(text)),
        |tok AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                     x -> x <> '') AS toks
        |  FROM corpus),
        |bg AS (
        |  SELECT doc_id,
        |    [toks[i] || ' ' || toks[i+1] for i in generate_series(1, len(toks) - 1)] AS bgs
        |  FROM tok),
        |u AS (SELECT doc_id, unnest(bgs) AS bg FROM bg),
        |c AS (SELECT doc_id, bg, count(*) AS cnt FROM u GROUP BY doc_id, bg),
        |r AS (
        |  SELECT doc_id, dup_bigram_x1000 FROM (
        |    SELECT doc_id,
        |      1000 * (CAST(sum(cnt) AS BIGINT) - CAST(count(*) AS BIGINT))
        |        // CAST(sum(cnt) AS BIGINT) AS dup_bigram_x1000
        |    FROM c GROUP BY doc_id)
        |  WHERE dup_bigram_x1000 <= 100),
        |hh AS (SELECT doc_id, md5(text) AS content_md5 FROM corpus),
        |kept AS (
        |  SELECT hh.doc_id, hh.content_md5, q.n_tokens, q.n_chars, r.dup_bigram_x1000
        |  FROM hh JOIN q USING (doc_id) JOIN r USING (doc_id)),
        |keep AS (SELECT content_md5, min(doc_id) AS doc_id FROM kept GROUP BY content_md5)
        |SELECT k.doc_id, k.n_tokens, k.n_chars, k.dup_bigram_x1000
        |FROM kept k JOIN keep USING (content_md5, doc_id)""".stripMargin,
    "q_host_cap" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'mega.example.org'
        |         ELSE 'h' || CAST(doc_id % 20 AS VARCHAR) || '.example.org'
        |    END AS host
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, host,
        |         row_number() OVER (PARTITION BY host ORDER BY doc_id) AS rk
        |  FROM h)
        |SELECT doc_id, host FROM r WHERE rk <= 10""".stripMargin,
    "q_dedup_incremental" ->
      """WITH ledger AS (
        |  SELECT md5(text) AS content_md5 FROM documents WHERE doc_id < 250),
        |incoming AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 250
        |  UNION ALL
        |  SELECT doc_id + 3000000, text FROM documents
        |  WHERE doc_id < 250 AND doc_id % 5 = 0),
        |batch AS (
        |  SELECT md5(text) AS content_md5, min(doc_id) AS doc_id
        |  FROM incoming GROUP BY md5(text))
        |SELECT b.content_md5, b.doc_id, i.text FROM batch b
        |JOIN incoming i ON i.doc_id = b.doc_id AND md5(i.text) = b.content_md5
        |WHERE b.content_md5 NOT IN (SELECT content_md5 FROM ledger)""".stripMargin,
    // the Bloom prune is a pure plan optimization — accepted keys are the
    // exact not-in-ledger set regardless of which route each row took
    "q_dedup_incremental_bloom" ->
      """WITH ledger AS (
        |  SELECT md5(text) AS content_md5 FROM documents WHERE doc_id < 300),
        |incoming AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 300
        |  UNION ALL
        |  SELECT doc_id + 4000000, text FROM documents
        |  WHERE doc_id < 300 AND doc_id % 3 = 0),
        |batch AS (
        |  SELECT md5(text) AS content_md5, min(doc_id) AS doc_id
        |  FROM incoming GROUP BY md5(text))
        |SELECT content_md5, doc_id FROM batch
        |WHERE content_md5 NOT IN (SELECT content_md5 FROM ledger)""".stripMargin,
    // exact recompute of the 8-gram contamination counts: benchmark items,
    // planted twins, per-doc distinct grams and the short-text fallback
    // all mirror the engine's construction token for token
    "q_decontaminate" ->
      s"""WITH ${plantedTwinsCte("documents", "planted")},
        |${toksCte("planted", "toksrc")},
        |${decontamCtes("toksrc", "documents", 10, 0)}
        |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
        |FROM dgrams d JOIN bgrams b USING (gram)
        |GROUP BY d.doc_id""".stripMargin,
    // exact recompute of the duplicated-substring spans: same planted
    // corpus, 8-gram positions via generate_series, count(*)>=2 over ALL
    // occurrences (cross-doc and within-doc), then the identical
    // gaps-and-islands overlap merge (new island when the gap >= k)
    "q_dup_spans" ->
      s"""WITH ${plantedTwinsCte("documents", "planted")},
        |${toksCte("planted", "toksrc")},
        |${dupSpanCtes("toksrc")}
        |SELECT doc_id, CAST(s AS BIGINT) AS start_tok, CAST(e AS BIGINT) AS end_tok
        |FROM spans""".stripMargin,
    // the coverage signal over the same spans: per-doc duplicated-token
    // sum left-joined onto every planted doc's token count (clean -> 0)
    "q_dup_span_coverage" ->
      s"""WITH ${plantedTwinsCte("documents", "planted")},
        |${toksCte("planted", "toksrc")},
        |${dupSpanCtes("toksrc")}
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens
        |FROM toksrc t LEFT JOIN perdoc p USING (doc_id)""".stripMargin,
    // the composed chain: coverage CTEs (q_dup_span_coverage) gate on
    // 2*dup_tokens <= n_tokens, then the decontamination CTEs
    // (q_decontaminate) remove benchmark-overlapping docs
    "q_span_decontam_chain" ->
      s"""WITH ${plantedTwinsCte("documents", "planted")},
        |${toksCte("planted", "toksrc")},
        |${dupSpanCtes("toksrc")},
        |coverage AS (
        |  SELECT t.doc_id, len(t.toks) AS n_tokens, coalesce(p.dup_tokens, 0) AS dup_tokens
        |  FROM toksrc t LEFT JOIN perdoc p USING (doc_id)),
        |${decontamCtes("toksrc", "documents", 10, 0)}
        |SELECT c.doc_id, CAST(c.n_tokens AS BIGINT) AS n_tokens
        |FROM coverage c
        |WHERE 2 * c.dup_tokens <= c.n_tokens
        |  AND c.doc_id NOT IN (SELECT doc_id FROM chits)""".stripMargin,
    // full replay of CurateMain.run: line strip (q_line_dedup CTEs) →
    // quality/repetition/exact-dedup (q_curation_pipeline CTEs, over the
    // STRIPPED text) → span-coverage gate (q_dup_span CTEs, k=8, 500‰) →
    // decontamination (q_decontaminate CTEs, benchmark = %7==3 prefixes)
    "q_curate_replay" ->
      s"""WITH ${linedCte(titleCaseTenth = false)},
        |${plantedTwinsCte("lined", "corpus")},
        |${lineStripCtes("corpus")},
        |${curationCtes("stripped")},
        |${toksCte("stripped", "stok")},
        |${dupSpanCtes("stok")},
        |${spanGateCte("stok")},
        |${decontamCtes("stok", "documents", 7, 3)}
        |SELECT s.doc_id, s.text FROM stripped s
        |JOIN keep_quality USING (doc_id)
        |JOIN keep_span USING (doc_id)
        |WHERE s.doc_id NOT IN (SELECT doc_id FROM chits)""".stripMargin,
    // extraction → curation: the shared main-text rebuild feeds the same
    // strip/quality/span CTE families (no benchmark stage)
    "q_extract_curate" ->
      s"""WITH $docFlagsCte,
        |$mainTextBlocksCte,
        |webdocs AS (
        |  SELECT doc_id, array_to_string(bl, chr(10)) AS text FROM mtblocks),
        |${lineStripCtes("webdocs")},
        |${curationCtes("stripped")},
        |${toksCte("stripped", "stok")},
        |${dupSpanCtes("stok")},
        |${spanGateCte("stok")}
        |SELECT s.doc_id, s.text FROM stripped s
        |JOIN keep_quality USING (doc_id)
        |JOIN keep_span USING (doc_id)""".stripMargin,
    // exact recompute of the repeated-line strip: identical midpoint-split
    // + banner planting, normalized (trim+lower) line frequency >= 2, and
    // ordered reassembly of the surviving original lines
    "q_line_dedup" ->
      s"""WITH ${linedCte(titleCaseTenth = true)},
        |${lineStripCtes("lined")}
        |SELECT d.doc_id, coalesce(k.text, '') AS text
        |FROM lined d LEFT JOIN stripped k USING (doc_id)""".stripMargin,
    // exact transitive closure of the same arithmetic pair graph: a
    // recursive CTE floods every label across symmetric edges; min per
    // vertex = the component minimum, matching the engine's min-label CC
    "q_dup_clusters" ->
      """WITH RECURSIVE base AS (
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 13 <> 12
        |  UNION ALL
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 26
        |  WHERE a.doc_id % 100 = 0),
        |edges AS (
        |  SELECT src, dst FROM base UNION SELECT dst, src FROM base),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
        |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin,
    "q_repetition_signals" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                     x -> x <> '') AS toks
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    [toks[i] || ' ' || toks[i+1] for i in generate_series(1, len(toks) - 1)] AS bgs
        |  FROM tok),
        |u AS (SELECT doc_id, unnest(bgs) AS bg FROM bg),
        |c AS (SELECT doc_id, bg, count(*) AS cnt FROM u GROUP BY doc_id, bg),
        |a AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
        |             CAST(count(*) AS BIGINT) AS distinct_bigrams,
        |             CAST(max(cnt) AS BIGINT) AS top_bigram_count
        |      FROM c GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(a.n_bigrams, 0) AS n_bigrams,
        |  coalesce(a.distinct_bigrams, 0) AS distinct_bigrams,
        |  coalesce(a.top_bigram_count, 0) AS top_bigram_count,
        |  CASE WHEN a.n_bigrams IS NULL THEN 0
        |       ELSE 1000 * (a.n_bigrams - a.distinct_bigrams) // a.n_bigrams END AS dup_bigram_x1000,
        |  CASE WHEN a.n_bigrams IS NULL THEN 0
        |       ELSE 1000 * a.top_bigram_count // a.n_bigrams END AS top_bigram_x1000
        |FROM documents d LEFT JOIN a USING (doc_id)""".stripMargin,
    // rank on the QUANTIZED cosine (floor(cos*2^20+0.5), id tie-break) —
    // mirrors Similarity.quantizedCosine; raw-double ORDER BY would break
    // ties on sub-ulp cross-engine normalization differences
    "q_ann_topk" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS score
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
        |SELECT query_id, neighbor_id, rank FROM (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY CAST(floor(score * 1048576 + 0.5) AS BIGINT) DESC,
        |               neighbor_id ASC) AS rank
        |  FROM scored) WHERE rank <= 10""".stripMargin,
    // full IVF recompute: same poly-hash centroid order, same QUANTIZED
    // argmax-cosine cell assignment (floor(cos*2^20 + 0.5), cid tie-break
    // — mirrors Similarity.nearestCells/nearestCellIdx, one comparison
    // across every IVF surface), same nProbe=4 probing, same rank tiebreak
    // — both engines score in float64
    "q_ann_ivf" ->
      """WITH ph AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    list_reduce(list_prepend(CAST(7 AS BIGINT),
        |      [unicode(c) for c in regexp_split_to_array(CAST(vec_id AS VARCHAR), '')]),
        |      (acc, x) -> (acc * 31 + x) % 2147483647) AS phash
        |  FROM embeddings),
        |cent AS (
        |  SELECT vec_id AS cid, emb AS cemb FROM ph ORDER BY phash, vec_id LIMIT 32),
        |assigned AS (
        |  SELECT vec_id, emb, cid FROM (
        |    SELECT p.vec_id, p.emb, c.cid,
        |      row_number() OVER (PARTITION BY p.vec_id
        |        ORDER BY CAST(floor(list_cosine_similarity(p.emb, c.cemb) * 1048576 + 0.5)
        |                 AS BIGINT) DESC, c.cid ASC) AS rn
        |    FROM ph p CROSS JOIN cent c) WHERE rn = 1),
        |probes AS (
        |  SELECT query_id, qemb, cid FROM (
        |    SELECT p.vec_id AS query_id, p.emb AS qemb, c.cid,
        |      row_number() OVER (PARTITION BY p.vec_id
        |        ORDER BY CAST(floor(list_cosine_similarity(p.emb, c.cemb) * 1048576 + 0.5)
        |                 AS BIGINT) DESC, c.cid ASC) AS rn
        |    FROM ph p CROSS JOIN cent c WHERE p.vec_id < 10) WHERE rn <= 4),
        |scored AS (
        |  SELECT pr.query_id, a.vec_id AS neighbor_id,
        |    list_cosine_similarity(pr.qemb, a.emb) AS score
        |  FROM probes pr JOIN assigned a ON pr.cid = a.cid
        |  WHERE pr.query_id <> a.vec_id)
        |SELECT query_id, neighbor_id, rank FROM (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY CAST(floor(score * 1048576 + 0.5) AS BIGINT) DESC,
        |               neighbor_id ASC) AS rank
        |  FROM scored) WHERE rank <= 10""".stripMargin,
    // cell assignment ranks on the QUANTIZED cosine (floor(cos·2^20+0.5),
    // same fixed-point family as the sums) + cid tie-break, mirroring
    // nearestCellIdx — each engine computes its own double cosine, and
    // quantization absorbs the sub-ulp normalization differences an
    // exact-equality tie-break would turn into divergent assignments
    "q_ivf_cell_stats" ->
      """WITH ph AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    list_reduce(list_prepend(CAST(7 AS BIGINT),
        |      [unicode(c) for c in regexp_split_to_array(CAST(vec_id AS VARCHAR), '')]),
        |      (acc, x) -> (acc * 31 + x) % 2147483647) AS phash
        |  FROM embeddings),
        |cent AS (
        |  SELECT vec_id AS cid, emb AS cemb FROM ph ORDER BY phash, vec_id LIMIT 32),
        |assigned AS (
        |  SELECT vec_id, emb, cid FROM (
        |    SELECT p.vec_id, p.emb, c.cid,
        |      row_number() OVER (PARTITION BY p.vec_id
        |        ORDER BY CAST(floor(list_cosine_similarity(p.emb, c.cemb) * 1048576 + 0.5)
        |                 AS BIGINT) DESC, c.cid ASC) AS rn
        |    FROM ph p CROSS JOIN cent c) WHERE rn = 1),
        |q AS (
        |  SELECT cid, [CAST(floor(x * 1048576 + 0.5) AS BIGINT) for x in emb] AS qv
        |  FROM assigned)
        |SELECT cid AS cell_id, count(*) AS n_members,
        |  CAST(sum(list_reduce(list_prepend(CAST(0 AS BIGINT), qv), (a, b) -> a + b))
        |    AS BIGINT) AS comp_sum,
        |  CAST(sum(list_reduce(list_prepend(CAST(0 AS BIGINT), [abs(v) for v in qv]),
        |    (a, b) -> a + b)) AS BIGINT) AS comp_abs_sum
        |FROM q GROUP BY cid""".stripMargin,
    // exact all-pairs hamming recompute of the poly-simhash (62-bit dual
    // polynomial token hash, bit votes over distinct tokens). The Spark
    // side's 4-band candidate trick has EXACT recall at hamming<=3
    // (pigeonhole over disjoint bands), so the only possible divergence is
    // the maxBucket=64 skew cap — scale-pinned like q_minhash_dedup
    // (Queries.scalePinnedOracles).
    "q_simhash_dedup" ->
      """WITH planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, array_to_string(l[1:greatest(len(l) - 2, 1)], ' ')
        |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
        |  WHERE doc_id % 10 = 0),
        |toks AS (
        |  SELECT doc_id,
        |    list_distinct(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS ts
        |  FROM planted),
        |hs AS (
        |  SELECT doc_id,
        |    [list_transform([list_reduce(list_prepend(CAST(7 AS BIGINT),
        |         [unicode(c) for c in regexp_split_to_array(t, '')]),
        |         (acc, x) -> (acc * 1103515245 + x) % 2147483647)],
        |       p -> (p * p % 2147483647 + p) % 2147483647)[1]
        |     | (list_transform([list_reduce(list_prepend(CAST(13 AS BIGINT),
        |         [unicode(c) for c in regexp_split_to_array(t, '')]),
        |         (acc, x) -> (acc * 1566083941 + x) % 2147483629)],
        |       p -> (p * p % 2147483629 + p) % 2147483629)[1] << 31)
        |     FOR t IN ts] AS hl
        |  FROM toks),
        |sig AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      [CASE WHEN list_sum([CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hl]) > 0
        |            THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END
        |       FOR b IN generate_series(0, 61)]),
        |      (acc, x) -> acc | x) AS s
        |  FROM hs)
        |SELECT a.doc_id AS a, b.doc_id AS b,
        |  CAST(bit_count(xor(a.s, b.s)) AS INT) AS hamming
        |FROM sig a, sig b
        |WHERE a.doc_id < b.doc_id AND bit_count(xor(a.s, b.s)) <= 3""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |  CASE WHEN octet_length(encode(text)) = 0 THEN 'empty'
        |       WHEN octet_length(encode(text)) % 3 = 0 THEN 'img'
        |       WHEN octet_length(encode(text)) % 3 = 1 THEN 'audio'
        |       ELSE 'video' END AS format,
        |  octet_length(encode(text)) % 1024 AS width,
        |  (octet_length(encode(text)) // 1024) % 1024 AS height,
        |  CASE WHEN octet_length(encode(text)) % 3 = 2
        |       THEN octet_length(encode(text)) % 30 + 1 ELSE 1 END AS frames
        |FROM documents""".stripMargin,
    // the decode PREDICTION: dims from doc_id arithmetic, pixel sum via the
    // modular series sum_{i<3wh} (doc_id + i) % 256 — no byte parsing here
    "q_multimodal_ppm" ->
      """WITH dims AS (
        |  SELECT doc_id, CAST(4 + doc_id % 13 AS INT) AS width,
        |         CAST(3 + doc_id % 7 AS INT) AS height
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, width, height,
        |         unnest(generate_series(0, 3 * width * height - 1)) AS i
        |  FROM dims)
        |SELECT doc_id, width, height, 255 AS maxval,
        |  CAST(sum((doc_id + i) % 256) AS BIGINT) AS pixel_sum
        |FROM px GROUP BY doc_id, width, height""".stripMargin,
    "q_multimodal_features" ->
      """WITH dims AS (
        |  SELECT doc_id, CAST(4 + doc_id % 13 AS INT) AS width,
        |         CAST(3 + doc_id % 7 AS INT) AS height
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, width, height,
        |         unnest(generate_series(0, 3 * width * height - 1)) AS i
        |  FROM dims)
        |SELECT doc_id, width, height,
        |  CAST(sum(CASE WHEN i % 3 = 0 THEN (doc_id + i) % 256 ELSE 0 END) AS BIGINT) AS r_sum,
        |  CAST(sum(CASE WHEN i % 3 = 1 THEN (doc_id + i) % 256 ELSE 0 END) AS BIGINT) AS g_sum,
        |  CAST(sum(CASE WHEN i % 3 = 2 THEN (doc_id + i) % 256 ELSE 0 END) AS BIGINT) AS b_sum
        |FROM px GROUP BY doc_id, width, height""".stripMargin,
    "q_multimodal_frames" ->
      """WITH m AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
        |t AS (
        |  SELECT doc_id,
        |    CASE WHEN n = 0 THEN 'empty' WHEN n % 3 = 0 THEN 'img'
        |         WHEN n % 3 = 1 THEN 'audio' ELSE 'video' END AS format,
        |    CASE WHEN n % 3 = 2 THEN n % 30 + 1 ELSE 1 END AS n_frames
        |  FROM m)
        |SELECT doc_id, format, CAST(n_frames AS INT) AS n_frames,
        |  CAST(u.i AS INT) AS frame_idx
        |FROM t, UNNEST(generate_series(0, n_frames - 1)) u(i)
        |WHERE u.i % 4 = 0""".stripMargin,
    // pooled value (oy, ox, c) = floor(mean of the 2x2 block) where pixel
    // (x, y, c) = (doc_id + (y*w + x)*3 + c) % 256 — linear index i maps
    // to oy = i // (ow*3), ox = (i // 3) % ow, c = i % 3, block element j
    // to dy = j // 2, dx = j % 2
    "q_multimodal_resize" ->
      """WITH dims AS (
        |  SELECT doc_id, CAST(4 + doc_id % 13 AS INT) AS w,
        |         CAST(3 + doc_id % 7 AS INT) AS h
        |  FROM documents),
        |o AS (SELECT doc_id, w, h, w // 2 AS ow, h // 2 AS oh FROM dims),
        |pv AS (
        |  SELECT doc_id, ow, oh,
        |    [list_sum([(doc_id + (((i // (ow*3)) * 2 + j // 2) * w
        |                          + ((i // 3) % ow) * 2 + (j % 2)) * 3 + i % 3) % 256
        |               for j in generate_series(0, 3)]) // 4
        |     for i in generate_series(0, oh * ow * 3 - 1)] AS vals
        |  FROM o)
        |SELECT doc_id, CAST(ow AS INT) AS out_w, CAST(oh AS INT) AS out_h,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), vals), (a, b) -> a + b) AS BIGINT)
        |    AS pooled_sum,
        |  CAST(list_reduce(list_prepend(CAST(7 AS BIGINT), vals),
        |    (acc, v) -> (acc * 31 + v) % 2147483647) AS BIGINT) AS pooled_poly
        |FROM pv""".stripMargin,
    // NOTE: every aggregate sum() below is wrapped CAST(sum(...) AS BIGINT):
    // DuckDB widens sum() to HUGEINT, which pandas renders as float64
    // ("6.0" vs Spark's "6") and the driver's value hash never matches.
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q_stats_by_source" ->
      """SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY source""".stripMargin,
    "q_window_events" ->
      """SELECT event_id, user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |FROM events""".stripMargin,
    "q_exact_dedup_docs" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS dup_count
        |FROM documents GROUP BY text""".stripMargin,
    "q_anti_join_resume" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders
        |  WHERE o_orderkey = l_orderkey AND o_orderkey % 7 < 3)""".stripMargin,
    "q_paper_filter" ->
      "SELECT doc_id, source FROM documents WHERE regexp_matches(source, '^src1[0-9]$')",
    "q_host_stats_salted" ->
      """SELECT CASE WHEN doc_id % 3 = 0 THEN 'mega.example.org'
        |            ELSE concat('h', CAST(doc_id % 20 AS VARCHAR), '.example.org') END AS host,
        |  count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1""".stripMargin,
    "q_join_agg_nation" ->
      """SELECT n_name, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin
  )
}
