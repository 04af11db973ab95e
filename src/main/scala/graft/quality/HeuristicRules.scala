package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The published heuristic quality-rule batteries every production
  * pretraining pipeline runs before the trained gates — Gopher's
  * document rules (Rae et al. 2021, arXiv:2112.11446 appendix A) and
  * C4's line rules (Raffel et al. 2019, arXiv:1910.10683 §2.2) — as
  * scan-time, ZERO-shuffle operators: every metric and verdict is
  * computed inside the row with higher-order array expressions, so a
  * 100 TB screen is one codegen'd pass over the corpus with nothing
  * exchanged (the [[graft.Corpus]] stages are pure scan filters).
  *
  * All decisions are integer / cross-multiplied (no division), so the
  * DuckDB oracles replay every verdict bit-for-bit. Ratio thresholds
  * are documented next to each flag in the exact rational form used.
  */
object HeuristicRules {


  /** The five Gopher verdicts as one boolean scan predicate — the
    * [[graft.Corpus.gopherQualityFilter]] stage filters on this
    * directly (no join, no shuffle). Rules, in exact integer form:
    * minWords ≤ n ≤ maxWords; 3n ≤ chars ≤ 10n (mean token length in
    * [3,10]); ≥ 2 stopword hits; 10·alpha ≥ 8n (≥80% words carry a
    * letter); 5·top2cnt·len(top2gram) ≤ chars + n − 1 (the most
    * frequent 2-gram covers ≤20% of the characters incl. joining
    * spaces). */
  def gopherPass(text: Column, minWords: Int = 50, maxWords: Int = 100000): Column = {
    // The metric battery is ONE native codegen pass per row
    // ([[org.apache.spark.sql.graft.GopherMetrics]]) — the previous
    // HOF formulation ran five interpreted lambda folds per row, each
    // re-splitting the text, the top-2-gram leg O(g²), and (being
    // CodegenFallback, exempt from common-subexpression elimination)
    // the flat conjunction paid several of them twice — measured ~4 s
    // per corpus filter pass at sf0.1. `exists` over a 1-element
    // array let-binds the struct so the native pass runs once per
    // row even though five rules read it. Identical verdicts,
    // including null text (null predicate → filter drops).
    val m = org.apache.spark.sql.graft.GraftTextFunctions.gopherMetrics(text)
    exists(array(m), x =>
      x.getField("n_words") >= minWords && x.getField("n_words") <= maxWords &&
        lit(3L) * x.getField("n_words") <= x.getField("n_chars_tok") &&
        x.getField("n_chars_tok") <= lit(10L) * x.getField("n_words") &&
        x.getField("stop_hits") >= 2 &&
        lit(10L) * x.getField("alpha_words") >= lit(8L) * x.getField("n_words") &&
        lit(5L) * x.getField("best").getField("c") *
          length(x.getField("best").getField("g")).cast("bigint")
          <= x.getField("n_chars_tok") + x.getField("n_words") - 1)
  }

  /** Per-document Gopher report (one row per doc): the raw metrics,
    * every per-rule verdict, and the conjunction — the audit form of
    * [[gopherPass]] (the q_gopher_rules oracle gate replays it all). */
  def gopherRules(df: DataFrame, text: Column, id: Column,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame =
    df.select(
        id.as("doc_id"),
        org.apache.spark.sql.graft.GraftTextFunctions.gopherMetrics(text).as("__m"))
      .select(col("doc_id"),
        col("__m.n_words").as("n_words"), col("__m.n_chars_tok").as("n_chars_tok"),
        col("__m.stop_hits").as("stop_hits"), col("__m.alpha_words").as("alpha_words"),
        col("__m.best.c").as("top2_count"), col("__m.best.g").as("top2_gram"))
      .withColumn("pass_word_count",
        (col("n_words") >= minWords && col("n_words") <= maxWords).cast("int"))
      .withColumn("pass_mean_len",
        (lit(3L) * col("n_words") <= col("n_chars_tok") &&
          col("n_chars_tok") <= lit(10L) * col("n_words")).cast("int"))
      .withColumn("pass_stop", (col("stop_hits") >= 2).cast("int"))
      .withColumn("pass_alpha",
        (lit(10L) * col("alpha_words") >= lit(8L) * col("n_words")).cast("int"))
      .withColumn("pass_dup2",
        (lit(5L) * col("top2_count") * length(col("top2_gram")).cast("bigint")
          <= col("n_chars_tok") + col("n_words") - 1).cast("int"))
      .withColumn("pass",
        (col("pass_word_count") === 1 && col("pass_mean_len") === 1 &&
          col("pass_stop") === 1 && col("pass_alpha") === 1 &&
          col("pass_dup2") === 1).cast("int"))

  /** C4 line keeper: ends in terminal punctuation (`.`/`!`/`?`/`"`
    * after right-trim) AND carries ≥ 3 whitespace words. */
  private def keptLines(text: Column): Column =
    filter(split(text, "\n"),
      l => rtrim(l).rlike("[.!?\"]$") && size(split(trim(l), "\\s+")) >= 3)

  /** Terminal-mark count of a string (the C4 "sentence" proxy). */
  private def sentenceCount(s: Column): Column =
    (length(s) - length(regexp_replace(s, "[.!?]", ""))).cast("bigint")

  /** The C4 page text after line filtering (kept lines re-joined). */
  def c4CleanText(text: Column): Column = array_join(keptLines(text), "\n")

  /** The C4 page verdict over the CLEANED text: ≥ 5 sentences, no
    * "lorem ipsum", no `{`. Scan predicate, zero shuffles. */
  def c4Pass(text: Column): Column =
    sentenceCount(c4CleanText(text)) >= 5 &&
      !contains(lower(text), lit("lorem ipsum")) &&
      !contains(text, lit("{"))

  // ---------------------------------------------------------------
  // Repetition-signal battery (Gopher appendix A "repetitious text"
  // table, as computed by the RedPajama-v2 / Dolma signal pipelines):
  // duplicate-line and duplicate-paragraph fractions, the character
  // coverage of the single most frequent word {2,3,4}-gram, and the
  // character mass of duplicated word {5..10}-grams. All thresholds
  // follow the published Gopher values in exact rational form.
  // ---------------------------------------------------------------

  /** Per-n gram statistics in ONE in-row pass: sort the gram array,
    * then a single fold over the sorted run counts. Emits
    * struct(top_chars, dup_chars) where top_chars = c·len(gram) of
    * the most frequent gram (count ties keep the lexicographically
    * smallest gram — first strict maximum in ascending order; 0 when
    * the best count is < 2, the RedPajama convention) and dup_chars =
    * Σ over grams with count c>1 of (c−1)·len(gram). O(g log g)
    * per row and ZERO shuffles — the explode+groupBy formulation of
    * the same stats would shuffle every gram of a 100 TB corpus. */
  private def gramStats(text: Column, n: Int): Column = {
    // shinglesRaw lowercases internally (WordShingles contract)
    val sorted = array_sort(graft.dedup.Dedup.shinglesRaw(text, n))
    aggregate(
      sorted,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("bc"),
        lit(0L).as("bl"), lit(0L).as("dup")),
      (a, x) => {
        val same = x === a.getField("prev")
        val run = when(same, a.getField("run") + 1L).otherwise(lit(1L))
        val dup = a.getField("dup") +
          when(same, length(x).cast("bigint")).otherwise(lit(0L))
        val better = run > a.getField("bc")
        struct(x.as("prev"), run.as("run"),
          when(better, run).otherwise(a.getField("bc")).as("bc"),
          when(better, length(x).cast("bigint")).otherwise(a.getField("bl")).as("bl"),
          dup.as("dup"))
      },
      a => struct(
        when(a.getField("bc") >= 2L, a.getField("bc") * a.getField("bl"))
          .otherwise(lit(0L)).as("top_chars"),
        a.getField("dup").as("dup_chars")))
  }

  /** Duplicate stats of a string sequence (lines or paragraphs):
    * struct(n, dup_n, dup_chars) where dup_n counts occurrences
    * beyond the first of each distinct member and dup_chars their
    * character mass. In-row; sequences are short (lines of one
    * document). */
  private def seqDupStats(parts: Column): Column = {
    def chars(a: Column): Column =
      aggregate(transform(a, p => length(p).cast("bigint")), lit(0L), (s, x) => s + x)
    val d = array_distinct(parts)
    struct(size(parts).cast("bigint").as("n"),
      (size(parts) - size(d)).cast("bigint").as("dup_n"),
      (chars(parts) - chars(d)).as("dup_chars"))
  }

  /** Per-document repetition-signal report — one row per doc, all
    * integer columns (fractions are encoded by the exact rational
    * verdicts in `pass`, so the DuckDB oracle replays every bit):
    * line/paragraph duplicate counts and character mass, top
    * {2,3,4}-gram coverage, duplicated {5..10}-gram mass, and the
    * combined Gopher verdict. Pure scan — zero shuffles. */
  def repetitionSignals(df: DataFrame, text: Column, id: Column): DataFrame = {
    val base = df.select(
      id.as("doc_id"),
      length(text).cast("bigint").as("text_chars"),
      seqDupStats(split(text, "\n")).as("__l"),
      seqDupStats(split(text, "\n\n")).as("__p"),
      gramStats(text, 2).as("__g2"), gramStats(text, 3).as("__g3"),
      gramStats(text, 4).as("__g4"), gramStats(text, 5).as("__g5"),
      gramStats(text, 6).as("__g6"), gramStats(text, 7).as("__g7"),
      gramStats(text, 8).as("__g8"), gramStats(text, 9).as("__g9"),
      gramStats(text, 10).as("__g10"))
    val wide = base.select(
      col("doc_id"), col("text_chars"),
      col("__l.n").as("n_lines"), col("__l.dup_n").as("dup_lines"),
      col("__l.dup_chars").as("dup_line_chars"),
      col("__p.n").as("n_paras"), col("__p.dup_n").as("dup_paras"),
      col("__p.dup_chars").as("dup_para_chars"),
      col("__g2.top_chars").as("top2_chars"),
      col("__g3.top_chars").as("top3_chars"),
      col("__g4.top_chars").as("top4_chars"),
      col("__g5.dup_chars").as("dup5_chars"),
      col("__g6.dup_chars").as("dup6_chars"),
      col("__g7.dup_chars").as("dup7_chars"),
      col("__g8.dup_chars").as("dup8_chars"),
      col("__g9.dup_chars").as("dup9_chars"),
      col("__g10.dup_chars").as("dup10_chars"))
    wide.withColumn("pass", repetitionVerdict.cast("int"))
  }

  /** The combined repetition verdict over the wide signal columns —
    * Gopher's published thresholds in exact cross-multiplied form:
    * dup_line_frac ≤ 0.30 (10·d ≤ 3·n), dup_para_frac ≤ 0.30,
    * dup_line_char_frac ≤ 0.20 (5·d ≤ chars), dup_para_char_frac ≤
    * 0.20, top-{2,3,4}-gram char fraction ≤ {0.20, 0.18, 0.16}
    * (5·t2 ≤ c; 50·t3 ≤ 9·c; 25·t4 ≤ 4·c), dup-{5..10}-gram char
    * fraction ≤ {0.15,0.14,0.13,0.12,0.11,0.10} (20·d5 ≤ 3·c; 50·d6 ≤
    * 7·c; 100·d7 ≤ 13·c; 25·d8 ≤ 3·c; 100·d9 ≤ 11·c; 10·d10 ≤ c). */
  private def repetitionVerdict: Column =
    lit(10L) * col("dup_lines") <= lit(3L) * col("n_lines") &&
      lit(10L) * col("dup_paras") <= lit(3L) * col("n_paras") &&
      lit(5L) * col("dup_line_chars") <= col("text_chars") &&
      lit(5L) * col("dup_para_chars") <= col("text_chars") &&
      lit(5L) * col("top2_chars") <= col("text_chars") &&
      lit(50L) * col("top3_chars") <= lit(9L) * col("text_chars") &&
      lit(25L) * col("top4_chars") <= lit(4L) * col("text_chars") &&
      lit(20L) * col("dup5_chars") <= lit(3L) * col("text_chars") &&
      lit(50L) * col("dup6_chars") <= lit(7L) * col("text_chars") &&
      lit(100L) * col("dup7_chars") <= lit(13L) * col("text_chars") &&
      lit(25L) * col("dup8_chars") <= lit(3L) * col("text_chars") &&
      lit(100L) * col("dup9_chars") <= lit(11L) * col("text_chars") &&
      lit(10L) * col("dup10_chars") <= col("text_chars")

  /** Scan-filter form of the battery for [[graft.Corpus]]: true iff
    * the document passes every repetition threshold. Zero shuffles —
    * a pure codegen predicate over the row. */
  def repetitionPass(text: Column): Column = {
    def g(n: Int) = gramStats(text, n)
    val l = seqDupStats(split(text, "\n")); val p = seqDupStats(split(text, "\n\n"))
    val tc = length(text).cast("bigint")
    lit(10L) * l.getField("dup_n") <= lit(3L) * l.getField("n") &&
      lit(10L) * p.getField("dup_n") <= lit(3L) * p.getField("n") &&
      lit(5L) * l.getField("dup_chars") <= tc &&
      lit(5L) * p.getField("dup_chars") <= tc &&
      lit(5L) * g(2).getField("top_chars") <= tc &&
      lit(50L) * g(3).getField("top_chars") <= lit(9L) * tc &&
      lit(25L) * g(4).getField("top_chars") <= lit(4L) * tc &&
      lit(20L) * g(5).getField("dup_chars") <= lit(3L) * tc &&
      lit(50L) * g(6).getField("dup_chars") <= lit(7L) * tc &&
      lit(100L) * g(7).getField("dup_chars") <= lit(13L) * tc &&
      lit(25L) * g(8).getField("dup_chars") <= lit(3L) * tc &&
      lit(100L) * g(9).getField("dup_chars") <= lit(11L) * tc &&
      lit(10L) * g(10).getField("dup_chars") <= tc
  }

  /** All three heuristic batteries as one row-wise verdict frame:
    * (doc_id, pass_gopher, pass_c4, pass_repetition). Pure scan —
    * zero shuffles, stateless — so the SAME code path runs over a
    * batch frame or a streaming micro-batch
    * ([[graft.streaming.EventStreams.eachBatch]]). */
  def ruleVerdicts(df: DataFrame, text: Column, id: Column,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame =
    df.select(id.as("doc_id"),
      gopherPass(text, minWords, maxWords).cast("int").as("pass_gopher"),
      c4Pass(text).cast("int").as("pass_c4"),
      repetitionPass(text).cast("int").as("pass_repetition"))

  /** Per-document C4 line-rule report: (doc_id, n_lines,
    * n_kept_lines, n_sentences, has_lorem, has_brace, clean_text,
    * pass) — the audit form; the filter form is
    * [[graft.Corpus.c4LineFilter]] (rewrite text to [[c4CleanText]],
    * keep [[c4Pass]] docs). */
  def c4LineRules(df: DataFrame, text: Column, id: Column): DataFrame =
    df.select(
        id.as("doc_id"),
        size(split(text, "\n")).cast("bigint").as("n_lines"),
        size(keptLines(text)).cast("bigint").as("n_kept_lines"),
        c4CleanText(text).as("clean_text"),
        contains(lower(text), lit("lorem ipsum")).cast("int").as("has_lorem"),
        contains(text, lit("{")).cast("int").as("has_brace"))
      .withColumn("n_sentences", sentenceCount(col("clean_text")))
      .withColumn("pass",
        (col("n_sentences") >= 5 && col("has_lorem") === 0 && col("has_brace") === 0)
          .cast("int"))
      .select(col("doc_id"), col("n_lines"), col("n_kept_lines"), col("n_sentences"),
        col("has_lorem"), col("has_brace"), col("clean_text"), col("pass"))
}
