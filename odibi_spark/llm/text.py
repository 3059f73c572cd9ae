"""Text analysis for training-data curation: quality scoring, token
counting, language heuristics, fingerprinting.

All pure `pyspark.sql.functions` expressions — whole-stage codegen,
no Python in the row path, so throughput is scan-bound at 100 TB.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame, functions as F

# Tiny per-language stopword profiles for the n-gram/stopword heuristic
# language ID. Real pipelines would load fastText/CLD3 via a Pandas UDF;
# the heuristic keeps the hot path JVM-side and is deterministic.
STOPWORD_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "fr": ["le", "la", "de", "et", "les"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "von"],
}


def sql_literal(value: str | int | float) -> str:
    """Render a Python value as Spark SQL that evaluates to the same
    value, with the type ``F.lit`` gives it, so a user value can sit
    inside SQL text (``F.expr``, ``selectExpr``).

    A string is a quoted literal; its backslashes and quotes are
    ``chr()`` pieces of a ``concat`` (folded to one literal by the
    optimizer), so no escape is ever parsed and the text means the same
    under either ``spark.sql.parser.escapedStringLiterals``. Every other
    character, newlines and non-BMP characters included, stands for
    itself. A float carries the ``D`` suffix (a bare ``0.5`` is a
    DECIMAL), and a non-finite one is cast from its name.
    """
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        return f"{value!r}D" if math.isfinite(value) else f"CAST('{value!r}' AS DOUBLE)"
    if isinstance(value, str):
        pieces = [f"chr({ord(p)})" if p in ("\\", "'") else f"'{p}'"
                  for p in re.split(r"([\\'])", value) if p]
        if len(pieces) < 2:
            return pieces[0] if pieces else "''"
        return f"concat({', '.join(pieces)})"
    raise TypeError(f"no SQL literal for {type(value).__name__}: {value!r}")


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add n_chars, n_words, avg_word_len, stopword_ratio, quality_score.

    quality_score = ln(1 + n_words) * (1 - stopword_ratio): rewards
    length, penalizes stopword-stuffed boilerplate. A deliberately
    simple, deterministic stand-in for model-based quality classifiers.
    """
    t = F.col(text_col)
    # project the word array and the stopword count ONCE: the filter
    # lambda is interpreted and HOFs don't CSE, so inlining them would
    # split and filter the text once per output column
    out = df.withColumns({"__t": t, "__w": F.split(F.trim(t), " ")})
    out = out.withColumn(
        "__stop", F.expr("size(filter(__w, w -> w IN ('the', 'a')))")
    )
    return out.withColumns({
        "n_chars_obs": F.expr("length(__t)"),
        "n_words": F.expr("size(__w)"),
        "avg_word_len": F.expr("(length(__t) - (size(__w) - 1)) / size(__w)"),
        "stopword_ratio": F.expr("__stop / size(__w)"),
        "quality_score": F.expr("ln(1 + size(__w)) * (1.0D - __stop / size(__w))"),
    }).drop("__t", "__w", "__stop")


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish regex token count
    (runs of letters / digits / single other chars)."""
    t = F.col(text_col)
    return df.withColumn(
        "ws_tokens", F.size(F.split(F.trim(t), r"\s+"))
    ).withColumn("word_tokens", F.regexp_count(t, F.lit("[a-z]+")))


def with_language_guess(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-profile language scoring: for each profiled language,
    count stopword hits; guess = argmax (ties -> lexicographic)."""
    words = F.split(F.trim(F.lower(F.col(text_col))), " ")
    scored = df
    for lang, stops in STOPWORD_PROFILES.items():
        scored = scored.withColumn(
            f"_hits_{lang}", F.size(F.filter(words, lambda w: w.isin(*stops)))
        )
    langs = list(STOPWORD_PROFILES)
    best = F.greatest(*[F.col(f"_hits_{lang}") for lang in langs])
    guess = F.lit("und")
    for lang in reversed(langs):
        guess = F.when(F.col(f"_hits_{lang}") == best, F.lit(lang)).otherwise(guess)
    scored = scored.withColumn(
        "lang_guess", F.when(best > 0, guess).otherwise(F.lit("und"))
    )
    return scored.drop(*[f"_hits_{lang}" for lang in langs])


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalized-content fingerprint: lowercase, strip non-alnum,
    collapse whitespace, md5. Robust to formatting-only edits."""
    norm = F.regexp_replace(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", ""), " +", " "
    )
    return df.withColumn("fingerprint", F.md5(F.trim(norm)))


def repetition_signals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 2,
    line_delim: str = "\n",
) -> DataFrame:
    """Within-document repetition quality signals in the style of the
    published MassiveText/Gopher filtering rules (Rae et al. 2021,
    appendix A1.1): documents dominated by repeated lines or a single
    frequent n-gram are low-quality boilerplate.

    Adds per row:
    - ``dup_line_fraction``: occurrences belonging to lines that appear
      >= 2 times in the doc / total lines
    - ``dup_line_char_fraction``: characters inside those repeated
      lines / total line characters
    - ``top_ngram_char_fraction``: characters covered by the single
      most frequent word ``ngram``-gram (count x gram length) / doc
      characters; 0.0 when the doc has fewer than ``ngram`` words

    Each row is scored from its own text: rows sharing an ``id_col``
    value are not pooled, a NULL id is scored like any other, and NULL
    text gets 0.0. Output columns: ``id_col``, the other input
    columns, then the three signals.

    Plan shape: one row-local projection, no explode, shuffle or join,
    so the upstream plan runs once. ``array_sort`` makes equal lines
    (n-grams) adjacent and one ``aggregate`` per array folds their runs
    into the long sums (long max) that per-value counts would give, so
    the divisions are exact. All JVM-side, no Python.
    """
    t = F.col(text_col)
    # runs of equal values, as SQL text over the lambda (acc, x): run
    # counts the copies of x seen so far in the sorted array (acc.prev
    # is NULL only at the start) and each field is its next long value
    run = "CASE WHEN x <=> acc.prev THEN acc.run + 1L ELSE 1L END"

    def fold_runs(arr: str, **fields: str) -> str:
        start = ", ".join(["'prev', CAST(NULL AS STRING)"] + [
            f"'{k}', 0L" for k in ["run", *fields]])
        step = ", ".join(["'prev', x", f"'run', {run}"] + [
            f"'{k}', {e}" for k, e in fields.items()])
        return (f"aggregate(array_sort({arr}), named_struct({start}), "
                f"(acc, x) -> named_struct({step}))")

    # a run reaching 2 adds both copies, each later copy adds one
    dup = f"CAST(CASE WHEN {run} = 2 THEN 2 WHEN {run} > 2 THEN 1 ELSE 0 END AS BIGINT)"

    # project both arrays ONCE before the lambdas: interpreted HOFs
    # don't CSE, so an inlined split() would re-split the text per gram
    # index — O(words^2) string work (same trap word_shingles documents;
    # measured ~5x slower end-to-end at sf0.1). line_delim is a Java
    # regex (split semantics, limit -1 so trailing empty lines count);
    # pass r"\. " for sentence-level segmentation of single-line corpora
    out = df.withColumns({
        "__t": t, "__l": F.split(t, line_delim), "__w": F.split(F.trim(t), " "),
    })
    # CASE guard: sequence(1, 0) is DESCENDING [1,0], not empty, so
    # short docs must yield array() explicitly
    n = sql_literal(ngram)
    grams = (
        f"CASE WHEN size(__w) >= {n} THEN "
        f"transform(sequence(1, size(__w) - {sql_literal(ngram - 1)}), "
        f"i -> concat_ws(' ', slice(__w, i, {n}))) "
        f"ELSE array() END"
    )
    out = out.withColumns({
        "__lines": F.expr(fold_runs(
            "__l",
            dup=f"acc.dup + {dup}",
            dup_chars=f"acc.dup_chars + {dup} * length(x)",
            chars="acc.chars + length(x)",
        )),
        "__top": F.expr(fold_runs(grams, top=f"greatest(acc.top, {run} * length(x))") + ".top"),
    })
    signals = {
        "dup_line_fraction": "__lines.dup / size(__l)",
        "dup_line_char_fraction": "__lines.dup_chars / greatest(__lines.chars, 1)",
        "top_ngram_char_fraction": "__top / greatest(length(__t), 1)",
    }
    rest = [c for c in df.columns if c != id_col]
    return out.select(id_col, *rest, *[
        F.expr(f"coalesce({v}, 0.0D)").alias(k) for k, v in signals.items()])


# Stopwords from the published Gopher rule (Rae et al. 2021, A1.1):
# a document must contain at least 2 of these to pass.
GOPHER_STOPWORDS: list[str] = [
    "the", "be", "to", "of", "and", "that", "have", "with",
]


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_ratio: float = 0.8,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Gopher/MassiveText document-quality rule bundle (Rae et al.
    2021, appendix A1.1 — the same rules RedPajama/Dolma reuse): word
    count bounds, mean word length bounds, symbol-to-word ratio
    (``#`` and ``...``), fraction of words containing an alphabetic
    character, and a minimum stopword count.

    Adds the measured features (``g_n_words``, ``g_mean_word_len``,
    ``g_symbol_ratio``, ``g_alpha_word_ratio``, ``g_stopword_hits``),
    one boolean per rule, and the conjunction ``gopher_keep``.

    Pure column expressions over one projected word array — whole-
    stage codegen, map-side, no shuffle; at 100 TB this is scan-bound
    and composes with any downstream filter pushdown.
    """
    t = F.col(text_col)
    out = df.withColumns({"__t": t, "__w": F.split(F.trim(F.lower(t)), " ")})
    lit = sql_literal
    stops = ", ".join(map(lit, GOPHER_STOPWORDS))
    ellipsis, letter = lit(r"\.\.\."), lit(r"\p{L}")
    # one withColumns per dependency level (each call analyses the
    # whole plan again). The word-length sum is an aggregate() over the
    # SHARED projected array (interpreted HOFs don't CSE an inlined
    # split). Alphabetic is the Unicode letter class, not [a-z]: the
    # published Gopher rule is "contains at least one ALPHABETIC
    # character" — \p{L} keeps non-Latin scripts (ru/zh/ar) from
    # failing the ratio wholesale (ADVICE r9), and Java regex + RE2
    # agree on it exactly
    out = out.withColumns({
        "g_n_words": F.expr("size(__w)"),
        "g_mean_word_len": F.expr(
            "CAST(aggregate(__w, 0, (acc, x) -> acc + length(x)) AS DOUBLE) / size(__w)"),
        "g_symbol_ratio": F.expr(
            f"CAST(regexp_count(__t, '#') + regexp_count(__t, {ellipsis}) AS DOUBLE)"
            " / size(__w)"),
        "g_alpha_word_ratio": F.expr(
            f"CAST(size(filter(__w, x -> x RLIKE {letter})) AS DOUBLE) / size(__w)"),
        "g_stopword_hits": F.expr(f"size(filter(__w, x -> x IN ({stops})))"),
    })
    rules = {
        "pass_word_count": f"g_n_words >= {lit(min_words)} AND g_n_words <= {lit(max_words)}",
        "pass_mean_word_len": f"g_mean_word_len >= {lit(min_mean_word_len)}"
        f" AND g_mean_word_len <= {lit(max_mean_word_len)}",
        "pass_symbol_ratio": f"g_symbol_ratio <= {lit(max_symbol_ratio)}",
        "pass_alpha_ratio": f"g_alpha_word_ratio >= {lit(min_alpha_word_ratio)}",
        "pass_stopwords": f"g_stopword_hits >= {lit(min_stopword_hits)}",
    }
    keep = " AND ".join(f"({cond})" for cond in rules.values())
    return out.withColumns({
        **{name: F.expr(cond) for name, cond in rules.items()},
        "gopher_keep": F.expr(keep),
    }).drop("__t", "__w")


# PII patterns chosen to behave identically under Java regex (Spark)
# and RE2 (DuckDB): no backrefs, no lookaround, no possessives.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+?[0-9][0-9()\-. ]{7,}[0-9]", "<PHONE>"),
]


def scrub_pii(
    df: DataFrame, text_col: str = "text", out_col: str | None = None
) -> DataFrame:
    """Redact emails, IPv4 addresses, and phone-number-shaped digit
    runs with typed placeholders, and count replacements per doc
    (``pii_hits``). Pattern order matters: emails first so their
    digits aren't half-eaten by the phone rule.

    Pure regexp_replace chain — codegen'd, map-side, no shuffle.
    Regexes are deliberately RE2-safe so differential oracles can run
    the identical patterns.
    """
    out_col = out_col or text_col
    scrubbed = F.col(text_col)
    hits = F.lit(0)
    for _, pat, repl in PII_PATTERNS:
        hits = hits + F.regexp_count(scrubbed, F.lit(pat))
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    # one withColumns: both expressions must resolve against the
    # ORIGINAL text column even when out_col == text_col
    return df.withColumns({out_col: scrubbed, "pii_hits": hits})


# Payment-card candidates: 13-19 digits with optional single space/
# dash separators, word-bounded. RE2-safe (\b works in Java regex and
# RE2) so the oracle extracts the identical candidate set; Luhn then
# decides validity — a phone-shaped digit run that happens to pass
# both the length gate and the checksum is exactly what the standard
# scrubbers redact too.
CARD_CANDIDATE_PATTERN: str = r"\b(?:\d[ -]?){12,18}\d\b"


def _luhn_sql(d: str) -> str:
    """Luhn checksum (ISO/IEC 7812) over a digit-string SQL expression
    as a pure fold: from the right, double every second digit
    (subtract 9 above 4), sum, valid iff % 10 == 0. Valid card lengths
    are 13-19. Identical text works as a DuckDB lambda body (CASE/
    CAST/substring/length all match), so oracles replay the checksum.
    """
    v = f"CAST(substring({d}, i, 1) AS INT)"
    return (
        f"(length({d}) BETWEEN 13 AND 19 AND aggregate("
        f"sequence(1, length({d})), 0, (acc, i) -> acc + "
        f"CASE WHEN (length({d}) - i) % 2 = 1 "
        f"THEN 2 * {v} - IF({v} > 4, 9, 0) ELSE {v} END) % 10 = 0)"
    )


def scrub_cards(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    *,
    placeholder: str = "<CARD>",
) -> DataFrame:
    """Redact Luhn-valid payment-card numbers — the PII class
    :func:`scrub_pii`'s shape-only rules can't safely match: a
    16-digit run is only a card if the ISO/IEC 7812 checksum holds,
    and shape-only redaction would eat order ids and EAN barcodes.
    Adds ``card_hits`` (redacted occurrence count; a number appearing
    twice counts twice).

    Plan: regexp_extract_all candidates -> per-candidate Luhn fold ->
    one replace fold over the (tiny) valid list — all JVM-side column
    expressions over one projected candidate array, zero shuffle,
    linear in text size. Candidate regex and checksum fold are
    RE2/DuckDB-replayable, so redacted text hash-matches cross-engine
    (``pii_card_scrub_docs``).
    """
    out_col = out_col or text_col
    # one SQL expr end-to-end: the filter lambda's variable `c` must
    # be referenceable inside the nested Luhn fold, which a
    # Python-lambda Column cannot splice into
    staged = df.withColumn(
        "__card_valid",
        F.expr(
            "filter(regexp_extract_all(" + text_col + ", "
            + f"'{_sql_str(CARD_CANDIDATE_PATTERN)}', 0), c -> "
            + _luhn_sql("regexp_replace(c, '[ -]', '')") + ")"
        ),
    )
    # \b-anchored replace (ADVICE r11): extraction is word-bounded, so
    # replacement must be too — a plain substring replace() would also
    # mangle a longer digit run that merely CONTAINS a valid candidate.
    # Candidates are digits/spaces/dashes only (regex-literal chars),
    # so the candidate can be embedded in the pattern unescaped.
    scrubbed = F.expr(
        f"aggregate(__card_valid, {text_col}, "
        "(acc, c) -> regexp_replace(acc, concat('\\\\b', c, '\\\\b'), "
        f"'{placeholder}'))"
    )
    return (
        staged.withColumns(
            {
                out_col: scrubbed,
                "card_hits": F.size("__card_valid").cast("long"),
            }
        ).drop("__card_valid")
    )


def _sql_str(pattern: str) -> str:
    """Escape a regex for embedding in a Spark SQL single-quoted
    literal (non-ANSI string parsing treats backslashes as escapes, so
    each must double)."""
    return pattern.replace("\\", "\\\\")


# HTML entity decode chain, applied AFTER tag removal and in this
# exact order: '&amp;' decodes LAST so double-escaped entities
# ('&amp;lt;') come out as their literal single-escaped text, the
# standard decode semantics. Plain string replaces — no regex — so
# oracles replay the identical chain.
HTML_ENTITIES: list[tuple[str, str]] = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]


def strip_html(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
) -> DataFrame:
    """Cheap regex-level HTML removal — the tag-strip stage of a web
    pipeline (comments, <script>/<style> blocks with their contents,
    then every remaining tag -> space, the :data:`HTML_ENTITIES`
    decode chain, whitespace squeeze + trim). Adds ``html_tag_count``
    (tags removed, measured before stripping).

    Deliberately NOT a DOM-grade main-content extractor (trafilatura/
    jusText class — those need an HTML parser and belong in an
    Arrow-batched seam if ever added); this is the deterministic
    codegen-only pass that makes downstream text stats meaningful.
    Every pattern is RE2-safe ((?is) inline flags, non-greedy spans),
    so the DuckDB oracle replays the chain verbatim
    (``html_strip_docs``). Map-side only; zero shuffle.
    """
    out_col = out_col or text_col
    t = F.col(text_col)
    tag_count = F.regexp_count(t, F.lit("<[^>]+>"))
    e = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    e = F.regexp_replace(e, r"(?is)<script[^>]*>.*?</script>", " ")
    e = F.regexp_replace(e, r"(?is)<style[^>]*>.*?</style>", " ")
    e = F.regexp_replace(e, "<[^>]+>", " ")
    for ent, rep in HTML_ENTITIES:
        e = F.replace(e, F.lit(ent), F.lit(rep))
    e = F.trim(F.regexp_replace(e, r"\s+", " "))
    return df.withColumns(
        {out_col: e, "html_tag_count": tag_count.cast("long")}
    )


# Social-counter lines ("17 likes", "3 Comments") — the RefinedWeb
# line-wise correction rule; RE2-safe, replayed verbatim by oracles.
SOCIAL_COUNTER_PATTERN: str = (
    r"^[0-9]+ (likes?|comments?|shares?|views?|upvotes?|retweets?)$"
)


def remove_junk_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_chars: int = 3,
    max_numeric_ratio: float = 0.5,
    max_punct_ratio: float = 0.5,
    delim: str = "\n",
    out_col: str | None = None,
) -> DataFrame:
    """RefinedWeb-style RULE-BASED line corrections (Penedo et al.
    2023 §3.3, the "line-wise corrections" stage) — the per-line
    complement of frequency-based boilerplate removal: a line is junk
    if it is shorter than ``min_chars`` (after trim), mostly digits
    (> ``max_numeric_ratio`` of its non-space chars), mostly
    punctuation (> ``max_punct_ratio`` non-alphanumeric non-space),
    or a social counter ("17 likes"). Junk lines are dropped and the
    survivors re-joined in order; adds ``n_kept_lines`` /
    ``n_junk_lines``.

    Unlike :func:`odibi_spark.llm.dedup.remove_boilerplate_lines`
    there is NO frequency side at all: the keep decision is per-line
    map-side column exprs — so the WHOLE operator is a projection.
    r15 (guide §2.4): the explode / per-document collect_list rebuild
    shuffled every kept line's text by doc_id and joined it back; the
    filter + concat_ws higher-order rewrite keeps the survivors in
    row order with ZERO exchanges and one scan. All regex classes are
    RE2-safe and replayed verbatim by the DuckDB oracle
    (``line_corrections_docs``).
    """
    import re as _re

    out_col = out_col or text_col
    split_pat = _re.escape(delim)

    def _junk(line):
        t = F.trim(line)
        nonspace = F.regexp_count(line, F.lit(r"\S"))
        digits = F.regexp_count(line, F.lit("[0-9]"))
        punct = F.regexp_count(line, F.lit(r"[^\p{L}0-9\s]"))
        return (
            (F.length(t) < int(min_chars))
            | ((nonspace > 0) & (digits / nonspace > float(max_numeric_ratio)))
            | ((nonspace > 0) & (punct / nonspace > float(max_punct_ratio)))
            | F.lower(t).rlike(SOCIAL_COUNTER_PATTERN)
        )

    # the unit array and the kept sub-array each land in their own
    # projection: both are multiply-referenced non-cheap expressions,
    # so CollapseProject keeps them materialized once per row
    out = df.withColumn(
        "__units", F.split(F.col(text_col), split_pat)
    ).withColumn("__kept", F.filter("__units", lambda l: ~_junk(l)))
    return (
        out.withColumn(
            # coalesce mirrors the old left-join shape: a NULL text
            # yields NULL arrays, which counted as 0 kept lines
            "n_kept_lines",
            F.coalesce(F.size("__kept").cast("long"), F.lit(0).cast("long")),
        )
        .withColumn(
            "n_junk_lines",
            F.size("__units").cast("long") - F.col("n_kept_lines"),
        )
        .withColumn(out_col, F.concat_ws(delim, F.col("__kept")))
        .drop("__units", "__kept")
    )


# Common UTF-8-read-as-Latin-1/cp1252 mojibake digraphs (the ftfy
# headline cases), LONGEST first so three-byte punctuation sequences
# repair before their two-byte prefixes. Plain string replaces — no
# regex — so Spark and a differential oracle apply the identical chain.
MOJIBAKE_REPAIRS: list[tuple[str, str]] = [
    ("â€™", "’"),   # â€™ -> right single quote
    ("â€˜", "‘"),   # â€˜ -> left single quote
    ("â€œ", "“"),   # â€œ -> left double quote
    ("â€”", "—"),   # â€” -> em dash
    ("â€“", "–"),   # â€“ -> en dash
    ("â€¦", "…"),   # â€¦ -> ellipsis
    ("Ã©", "é"),  # Ã© -> é
    ("Ã¨", "è"),  # Ã¨ -> è
    ("Ãª", "ê"),  # Ãª -> ê
    ("Ã ", "à"),  # Ã  -> à
    ("Ã¡", "á"),  # Ã¡ -> á
    ("Ã¤", "ä"),  # Ã¤ -> ä
    ("Ã§", "ç"),  # Ã§ -> ç
    ("Ã­", "í"),  # Ã­ -> í
    ("Ã¯", "ï"),  # Ã¯ -> ï
    ("Ã±", "ñ"),  # Ã± -> ñ
    ("Ã³", "ó"),  # Ã³ -> ó
    ("Ã¶", "ö"),  # Ã¶ -> ö
    ("Ãº", "ú"),  # Ãº -> ú
    ("Ã¼", "ü"),  # Ã¼ -> ü
    ("Ã‰", "É"),  # Ã‰ -> É
]

# C0/C1 controls (keeping \t \n \r), DEL, zero-widths, BOM — the
# characters no tokenizer should ever see. Literal chars inside one
# regex class; \xNN two-digit escapes parse identically in Java regex
# and RE2.
CONTROL_ZW_CLASS: str = (
    "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F"
    + chr(0x200B) + "-" + chr(0x200D)  # ZWSP / ZWNJ / ZWJ
    + chr(0xFEFF)                      # BOM
    + "]"
)


def clean_unicode_expr(ref: str, *, repair_mojibake: bool = True,
                       strip_controls: bool = True):
    """The column-expression (whole-stage-codegen) stages of
    :func:`clean_unicode`: mojibake repair + control/zero-width strip,
    over ``ref``, the text as SQL (a plain column name such as
    ``__src``), parsed as one expression. Exposed separately so
    plan-hygiene-sensitive call sites (e.g. the curation funnel's
    unicode gate) can stay entirely JVM-side."""
    e = ref
    if repair_mojibake:
        for bad, good in MOJIBAKE_REPAIRS:
            e = f"replace({e}, {sql_literal(bad)}, {sql_literal(good)})"
    if strip_controls:
        e = f"regexp_replace({e}, {sql_literal(CONTROL_ZW_CLASS)}, '')"
    return F.expr(e)


def clean_unicode(
    df: DataFrame,
    text_col: str = "text",
    *,
    out_col: str | None = None,
    normalize: str | None = "NFC",
    repair_mojibake: bool = True,
    strip_controls: bool = True,
) -> DataFrame:
    """ftfy-class Unicode repair — the missing FIRST stage of a web-
    corpus curation funnel (VERDICT r9 task 6): run it before
    tokenization, Gopher rules, or dedup so mojibake and zero-width
    junk can't split words or defeat fingerprints.

    Three stages, in order:
    1. repair the common UTF-8-read-as-Latin-1/cp1252 mojibake
       digraphs (``MOJIBAKE_REPAIRS``) — plain replace chain, codegen;
    2. strip C0/C1 controls (except tab/newline/CR), DEL, zero-width
       joiners, and the BOM — one regexp_replace, codegen;
    3. Unicode-normalize (``normalize``: NFC/NFKC/NFD/NFKD or None to
       skip) via stdlib ``unicodedata`` in an Arrow-batched pandas
       UDF — the ONLY Python stage; a real cluster would swap in an
       ICU expression, and differential oracles mirror it with
       DuckDB's utf8proc-backed ``nfc_normalize``.

    Adds ``unicode_changed`` (cleaned != original). Stages 1-2 are
    map-side column expressions; at 100 TB the pass is scan-bound
    (skip stage 3 with ``normalize=None`` for a zero-Python plan).
    """
    out_col = out_col or text_col
    col = clean_unicode_expr(
        "__src", repair_mojibake=repair_mojibake, strip_controls=strip_controls
    )
    if normalize:
        form = normalize.upper()
        if form not in ("NFC", "NFKC", "NFD", "NFKD"):
            raise ValueError(f"unknown normalization form '{normalize}'")
        import pandas as pd  # noqa: F401 — pandas_udf needs it importable

        @F.pandas_udf("string")
        def _norm(s):  # pragma: no cover — executes in workers
            import unicodedata

            return s.map(
                lambda x: unicodedata.normalize(form, x)
                if x is not None
                else None
            )

        col = _norm(col)
    # both read __src, the ORIGINAL text, even when out_col == text_col
    return df.withColumn("__src", F.col(text_col)).withColumns(
        {out_col: col, "unicode_changed": col != F.col("__src")}
    ).drop("__src")


def lexical_diversity(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group lexical-diversity profile — the corpus-QA numbers a
    curation run reports per source/domain before mixing: token count,
    type (distinct-token) count, type-token ratio, hapax legomena
    count (tokens occurring exactly once) and hapax ratio. A source
    whose TTR or hapax ratio collapses is template/boilerplate spam;
    one whose hapax ratio explodes is OCR noise or mojibake.

    Plan: one explode + a (group, token) groupBy (vocabulary-bounded
    shuffle, map-side partials), then an O(groups x vocab) rollup.
    Ratios are single exact-int IEEE divisions — hash-oracle stable.
    """
    toks = df.select(
        F.col(group_col).alias("g"),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    per_tok = toks.groupBy("g", "tok").agg(F.count(F.lit(1)).alias("c"))
    return (
        per_tok.groupBy("g")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("long").alias("n_hapax"),
        )
        .select(
            F.col("g").alias(group_col),
            "n_tokens", "n_types", "n_hapax",
            (F.col("n_types").cast("double") / F.col("n_tokens"))
            .alias("type_token_ratio"),
            (F.col("n_hapax").cast("double") / F.col("n_types"))
            .alias("hapax_ratio"),
        )
    )


# Unicode scripts a web corpus actually triages on. Patterns are the
# Unicode Script property: Java regex spells it \p{IsLatin}, RE2
# (DuckDB) spells it \p{Latin} — same classes, so counts match
# exactly. (script, java_class, re2_class)
SCRIPT_CLASSES: list[tuple[str, str, str]] = [
    ("latin", r"\p{IsLatin}", r"\p{Latin}"),
    ("cyrillic", r"\p{IsCyrillic}", r"\p{Cyrillic}"),
    ("han", r"\p{IsHan}", r"\p{Han}"),
    ("arabic", r"\p{IsArabic}", r"\p{Arabic}"),
    ("greek", r"\p{IsGreek}", r"\p{Greek}"),
]


def script_profile(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Per-document Unicode-script profile: letter counts for the
    major scripts (``SCRIPT_CLASSES``), the total letter count, an
    ``other_letters`` remainder, and the ``dominant_script`` (max
    count among the KNOWN classes; ties broken by list order, 'none'
    when no known-script letter occurs — an other-script-only doc is
    exactly what the filter should surface, not silently classify).
    The script signal is what language-ID models key on
    first — and the cheapest wrong-script / mixed-script junk filter
    at 100 TB.

    Pure ``regexp_count`` column expressions (one pass per script
    class, all map-side, whole-stage codegen).
    """
    t = F.col(text_col)
    out = df
    for name, java_cls, _ in SCRIPT_CLASSES:
        out = out.withColumn(
            f"script_{name}", F.regexp_count(t, F.lit(java_cls)).cast("long")
        )
    out = out.withColumn(
        "script_letters", F.regexp_count(t, F.lit(r"\p{L}")).cast("long")
    )
    known = None
    for name, _, _ in SCRIPT_CLASSES:
        c = F.col(f"script_{name}")
        known = c if known is None else known + c
    out = out.withColumn(
        "script_other", (F.col("script_letters") - known).cast("long")
    )
    dominant = F.lit("none")
    best = F.lit(0).cast("long")
    for name, _, _ in SCRIPT_CLASSES:  # earlier entries win ties (>)
        c = F.col(f"script_{name}")
        dominant = F.when(c > best, F.lit(name)).otherwise(dominant)
        best = F.greatest(best, c)
    return out.withColumn("dominant_script", dominant)


def bpe_pair_stats(
    df: DataFrame,
    text_col: str = "text",
    *,
    top_k: int = 20,
    lowercase: bool = True,
) -> DataFrame:
    """The first iteration of byte-pair-encoding tokenizer training at
    corpus scale (Sennrich et al. 2016): word frequencies, then
    adjacent character-pair counts weighted by word frequency — the
    statistics the first BPE merge is chosen from. Returns the top
    ``top_k`` (pair, pair_count) rows, count-desc with a
    deterministic pair tiebreak.

    Scale shape: the corpus collapses to its VOCABULARY first (one
    token groupBy, map-side partials — at 100 TB the vocab is
    millions, not trillions), then pairs explode off the vocab table
    weighted by the word counts, one more bounded groupBy, and the
    top-k is TakeOrderedAndProject. An iterative trainer would loop
    merge -> re-pair on the vocab table only; this exposes the
    per-iteration statistics primitive.
    """
    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    words = (
        df.select(F.explode(F.split(F.trim(t), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    # length-1 words first: sequence(1, 0) would count DOWN ([1, 0])
    # and fabricate pairs from empty substrings
    pairs = words.filter(F.length("w") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1), i -> "
                "concat(substring(w, i, 1), ' ', substring(w, i + 1, 1)))"
            )
        ).alias("pair"),
        "wc",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").cast("long").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(top_k)
    )


def bpe_vocab(
    df: DataFrame,
    text_col: str = "text",
    *,
    lowercase: bool = True,
    end_of_word: str | None = "</w>",
) -> DataFrame:
    """Word-frequency vocabulary with each word exploded into its
    initial BPE symbol sequence (characters, plus the end-of-word
    marker Sennrich et al. 2016 use so merges can't cross word
    boundaries when detokenizing): (word, wc, syms array<string>).

    This is the ONLY corpus-sized pass of BPE training: after it, the
    trainer loops over the vocabulary table alone (millions of rows
    at 100 TB, never trillions)."""
    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    words = (
        df.select(F.explode(F.split(F.trim(t), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("wc"))
    )
    chars = F.expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
    )
    syms = (
        F.concat(chars, F.array(F.lit(end_of_word)))
        if end_of_word
        else chars
    )
    return words.withColumn("syms", syms)


def _merge_pair_expr(a: str, b: str):
    """Greedy left-to-right merge of one symbol pair inside ``syms``
    as a single fold (Sennrich's re.sub semantics): an occurrence is
    taken iff its left symbol was not itself just consumed — the
    accumulator's last element is the merged token after a take, so
    ``a a a`` under pair (a,a) becomes [aa, a], never [aa, aa]."""
    merged = a + b
    return F.aggregate(
        F.col("syms"),
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.lit(merged)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    *,
    num_merges: int = 20,
    lowercase: bool = True,
    end_of_word: str | None = "</w>",
    engine: str = "auto",
) -> DataFrame:
    """Iterative byte-pair-encoding tokenizer training (Sennrich,
    Haddow & Birch 2016 — "Neural Machine Translation of Rare Words
    with Subword Units", the algorithm behind GPT-2/RoBERTa-family
    vocabularies): ``num_merges`` rounds of (count adjacent symbol
    pairs weighted by word frequency -> take the most frequent pair,
    ties broken lexicographically -> merge it greedily in every
    word's symbol sequence).

    Returns the learned merge table: (merge_rank, left, right,
    pair_count) — the artifact a tokenizer ships.

    Scale contract (the documented bound): the corpus is read ONCE
    (:func:`bpe_vocab`); every iteration is one bounded groupBy over
    the VOCABULARY table plus a map-side fold, the driver holds
    exactly the O(num_merges) merge list plus one 1-row argmax
    collect per round, and the vocabulary is eagerly localCheckpointed
    every ``BPE_CHECKPOINT_EVERY`` rounds so plan depth stays O(1)
    instead of O(num_merges) while materialization jobs stay
    O(num_merges / cadence). Training stops early if no pair occurs
    twice (vocabulary exhausted).
    """
    merges, _ = _bpe_run(
        df, text_col, num_merges=num_merges, lowercase=lowercase,
        end_of_word=end_of_word, engine=engine,
    )
    return df.sparkSession.createDataFrame(
        merges, "merge_rank int, left string, right string, pair_count long"
    )


def bpe_segmented_vocab(
    df: DataFrame,
    text_col: str = "text",
    *,
    num_merges: int = 20,
    lowercase: bool = True,
    end_of_word: str | None = "</w>",
    engine: str = "auto",
) -> DataFrame:
    """Train BPE AND return the segmentation it induces: the
    vocabulary table (word, wc, syms) after all ``num_merges`` merges
    — i.e. the trained tokenizer APPLIED to every corpus word (a
    corpus token's subwords = its word's ``syms``). Encoding the
    corpus is then one join from the token stream to this table; the
    quadratic-free shape tokenizer deployment needs at 100 TB (the
    segmentation is computed once per DISTINCT word, never per
    token). Training and application share one loop, so this costs no
    more than :func:`bpe_train` itself."""
    _, vocab = _bpe_run(
        df, text_col, num_merges=num_merges, lowercase=lowercase,
        end_of_word=end_of_word, engine=engine,
    )
    return vocab


#: merge rounds between vocabulary checkpoints in the BPE loops. A
#: merge fold references ``syms`` exactly ONCE, so chained folds stay
#: LINEAR in plan size — per-round materialization (2 jobs/round) was
#: pure job overhead (r15: the 20-merge trainer ran 40 driver jobs;
#: with the cadence it runs ~23). The cadence bounds both the chained
#: expression depth and the fold recompute a stats pass pays to at
#: most BPE_CHECKPOINT_EVERY - 1 — over the VOCABULARY table, which is
#: O(distinct words), never the corpus.
BPE_CHECKPOINT_EVERY = 8

#: vocabulary-size gate for the single-task BPE merge-loop kernel
#: (guide §4.2 — whole-batch native code — applied to the trainer's
#: sequential argmax loop, the same routing pattern as
#: ``similarity.PQ_EXPR_CELL_LIMIT``). The distributed loop costs one
#: groupBy + 1-row collect PER MERGE ROUND (the r15 profile: 49
#: driver jobs / 2.7s driver gap for 20 merges at sf0.1 — pure
#: scheduling overhead, the per-round data is a few thousand vocab
#: rows); at or below this many distinct words the whole loop runs in
#: ONE executor task over the coalesced vocabulary (a narrow
#: Coalesce, no Exchange), replaying the exact argmax tie-break and
#: greedy-fold semantics (equivalence pinned by tests). Above the
#: gate — vocabularies of millions of words, the 100-TB regime —
#: the per-round distributed groupBy is the right plan and the loop
#: is unchanged.
BPE_KERNEL_MAX_VOCAB = 65536


def _use_bpe_kernel(vocab_df: DataFrame, engine: str) -> bool:
    if engine not in ("auto", "spark", "kernel"):
        raise ValueError(
            f"bpe engine must be auto|spark|kernel, got {engine!r}"
        )
    if engine != "auto":
        return engine == "kernel"
    # the vocab frame is eagerly checkpointed by every caller, so this
    # count is a cache read, not a recompute
    return vocab_df.count() <= BPE_KERNEL_MAX_VOCAB


def _bpe_merge_word_py(syms: list, a: str, b: str, merged: str) -> list:
    """Exact Python replica of :func:`_merge_pair_expr`'s fold: greedy
    left-to-right, an occurrence is taken iff its left symbol was not
    itself just consumed (``a a a`` under (a, a) -> [aa, a])."""
    acc: list = []
    for s in syms:
        if acc and acc[-1] == a and s == b:
            acc[-1] = merged
        else:
            acc.append(s)
    return acc


def _bpe_train_py(
    syms_list: list, wcs: list, num_merges: int
) -> list[tuple[int, str, str, int]]:
    """The merge loop of :func:`_bpe_run` on in-memory vocab rows:
    per round, adjacent-pair counts weighted by word frequency ->
    argmax with the (count desc, left asc, right asc) tie-break ->
    greedy merge. Python ``str`` comparison is code-point order, which
    equals Spark's UTF8 binary string ordering, so the tie-break is
    bit-identical to the distributed ``orderBy``."""
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, num_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, wc in zip(syms_list, wcs):
            for i in range(len(syms) - 1):
                key = (syms[i], syms[i + 1])
                counts[key] = counts.get(key, 0) + wc
        if not counts:
            break
        (a, b), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if c < 2:
            break  # nothing left worth merging
        merges.append((rank, a, b, int(c)))
        merged = a + b
        for i, syms in enumerate(syms_list):
            if a in syms:
                syms_list[i] = _bpe_merge_word_py(syms, a, b, merged)
    return merges


def _bpe_train_kernel(
    vocab_df: DataFrame, num_merges: int
) -> list[tuple[int, str, str, int]]:
    """Run the merge loop in ONE executor task over the coalesced
    vocabulary (narrow Coalesce — no shuffle) and collect the
    O(num_merges) merge rows. One Spark job replaces the distributed
    loop's one-job-per-round argmax collects."""
    import pandas as pd

    def run(batches):
        syms_list: list = []
        wcs: list = []
        for pdf in batches:
            syms_list.extend(list(s) for s in pdf["syms"])
            wcs.extend(int(w) for w in pdf["wc"])
        merges = _bpe_train_py(syms_list, wcs, num_merges)
        if merges:
            yield pd.DataFrame(
                {
                    "merge_rank": [m[0] for m in merges],
                    "left": [m[1] for m in merges],
                    "right": [m[2] for m in merges],
                    "pair_count": [m[3] for m in merges],
                }
            )

    rows = (
        vocab_df.select("wc", "syms")
        .coalesce(1)
        .mapInPandas(
            run,
            "merge_rank int, left string, right string, pair_count long",
        )
        .collect()
    )
    return sorted(
        (
            (int(r["merge_rank"]), r["left"], r["right"], int(r["pair_count"]))
            for r in rows
        ),
    )


def _bpe_apply_map(vocab_df: DataFrame, pairs: list) -> DataFrame:
    """Apply a known merge list to every vocab row with one
    partition-parallel ``mapInPandas`` (zero extra jobs, zero
    checkpoints — replay of known merges is embarrassingly parallel
    per word, unlike training's per-round global argmax)."""
    pairs = [(a, b, a + b) for a, b in pairs]

    def run(batches):
        for pdf in batches:
            out = []
            for syms in pdf["syms"]:
                syms = list(syms)
                for a, b, merged in pairs:
                    if a in syms:
                        syms = _bpe_merge_word_py(syms, a, b, merged)
                out.append(syms)
            pdf = pdf.copy()
            pdf["syms"] = out
            yield pdf

    return vocab_df.select("word", "wc", "syms").mapInPandas(
        run, "word string, wc long, syms array<string>"
    )


def _bpe_run(
    df: DataFrame,
    text_col: str,
    *,
    num_merges: int,
    lowercase: bool,
    end_of_word: str | None,
    engine: str = "auto",
):
    """Shared trainer loop: returns (merge list, final vocab frame)."""
    if num_merges < 1:
        raise ValueError("num_merges must be >= 1")
    base = bpe_vocab(
        df, text_col, lowercase=lowercase, end_of_word=end_of_word
    ).localCheckpoint(eager=True)
    if _use_bpe_kernel(base, engine):
        merges = _bpe_train_kernel(base, num_merges)
        vocab = (
            _bpe_apply_map(base, [(a, b) for _, a, b, _ in merges])
            if merges
            else base
        )
        return merges, vocab
    vocab, pending = base, 0
    merges: list[tuple[int, str, str, int]] = []
    # CASE guard, NOT filter(size >= 2): a size filter over the lazily
    # chained merge folds is pushed through the projection and
    # re-evaluates the whole fold chain in the Filter node (the
    # explode_nonempty lesson; sequence(1, 0) DESCENDS, hence the
    # guard). explode of the empty array emits nothing — identical
    # pair statistics.
    pair_expr = F.explode(
        F.expr(
            "CASE WHEN size(syms) >= 2 THEN "
            "transform(sequence(1, size(syms) - 1), "
            "i -> struct(element_at(syms, i) AS l, "
            "element_at(syms, i + 1) AS r)) "
            "ELSE CAST(array() AS array<struct<l: string, r: string>>) "
            "END"
        )
    ).alias("p")
    for rank in range(1, num_merges + 1):
        best = (
            vocab.select(pair_expr, "wc")
            .groupBy("p.l", "p.r")
            .agg(F.sum("wc").cast("long").alias("c"))
            .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["c"] < 2:
            break  # nothing left worth merging
        a, b, c = best[0]["l"], best[0]["r"], int(best[0]["c"])
        merges.append((rank, a, b, c))
        vocab = vocab.withColumn("syms", _merge_pair_expr(a, b))
        pending += 1
        if pending >= BPE_CHECKPOINT_EVERY:
            prev = base
            base = vocab.localCheckpoint(eager=True)
            vocab, pending = base, 0
            # the new checkpoint is materialized (eager) — release the
            # previous copy or the session pins O(num_merges / cadence)
            # full vocabularies in executor storage (ADVICE r11)
            prev.unpersist()
    if pending:
        # hand consumers a checkpointed frame: a caller-side filter
        # over a pending fold chain would re-evaluate the folds inside
        # the Filter node (the plan audit's scan-filter-recompute
        # class)
        prev = base
        vocab = vocab.localCheckpoint(eager=True)
        prev.unpersist()
    return merges, vocab


def bpe_apply_merges(
    df: DataFrame,
    text_col: str = "text",
    *,
    merges,
    lowercase: bool = True,
    end_of_word: str | None = "</w>",
    engine: str = "auto",
) -> DataFrame:
    """Apply a TRAINED merge table to a (possibly unseen) corpus —
    the tokenizer DEPLOYMENT step :func:`bpe_train` ships merges for:
    segment this corpus's vocabulary by replaying the merges in rank
    order with the same greedy left-to-right semantics training used.
    Returns (word, wc, syms) over the target corpus's DISTINCT words.

    ``merges`` is the bpe_train output — a DataFrame with
    (merge_rank, left, right) columns, or a rank-ordered list of
    (left, right) pairs.

    Scale: one corpus pass builds the vocabulary (the only
    corpus-sized stage); each merge is one vectorized array fold over
    the vocab table, checkpointed on the training cadence — unseen
    words cost exactly what training-corpus words cost."""
    if isinstance(merges, DataFrame):
        pairs = [
            (r["left"], r["right"])
            for r in merges.orderBy("merge_rank").collect()
        ]
    else:
        pairs = [(a, b) for a, b in merges]
    base = bpe_vocab(
        df, text_col, lowercase=lowercase, end_of_word=end_of_word
    ).localCheckpoint(eager=True)
    if _use_bpe_kernel(base, engine):
        return _bpe_apply_map(base, pairs) if pairs else base
    vocab, pending = base, 0
    # replay needs no per-round stats, so folds chain lazily and only
    # every BPE_CHECKPOINT_EVERY-th round materializes (linear plan
    # growth — each fold references syms once; see BPE_CHECKPOINT_EVERY)
    for a, b in pairs:
        vocab = vocab.withColumn("syms", _merge_pair_expr(a, b))
        pending += 1
        if pending >= BPE_CHECKPOINT_EVERY:
            prev = base
            base = vocab.localCheckpoint(eager=True)
            vocab, pending = base, 0
            prev.unpersist()
    if pending:
        # checkpointed hand-off — see _bpe_run (consumer filters must
        # not re-evaluate the pending fold chain)
        prev = base
        vocab = vocab.localCheckpoint(eager=True)
        prev.unpersist()
    return vocab


def bpe_encode(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    merges,
    lowercase: bool = True,
    end_of_word: str | None = "</w>",
    out_col: str = "bpe_tokens",
    engine: str = "auto",
) -> DataFrame:
    """Tokenize every document with a trained BPE merge table:
    (id, n_words, n_tokens, ``out_col`` = the subword sequence joined
    with single spaces — detokenizable because of the end-of-word
    marker). Documents with no words are omitted (nothing to encode).

    Scale shape (the bpe_segmented_vocab contract made executable):
    segmentation is computed ONCE PER DISTINCT WORD
    (:func:`bpe_apply_merges`), never per token; encoding the token
    stream is one posexplode + one join on the word key (AQE absorbs
    the Zipf-head skew) + one per-doc ordered reassembly."""
    seg = bpe_apply_merges(
        df, text_col, merges=merges,
        lowercase=lowercase, end_of_word=end_of_word, engine=engine,
    ).select("word", "syms")
    t = F.trim(F.col(text_col))
    if lowercase:
        t = F.lower(t)
    stream = (
        df.select(
            F.col(id_col),
            F.posexplode(F.split(t, " ")).alias("__pos", "word"),
        )
        .filter(F.col("word") != "")
        .join(seg, "word")
    )
    toks = F.flatten(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__pos", "syms"))),
            lambda x: x["syms"],
        )
    )
    return (
        stream.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            toks.alias("__toks"),
        )
        .select(
            id_col,
            "n_words",
            F.size("__toks").cast("long").alias("n_tokens"),
            F.array_join("__toks", " ").alias(out_col),
        )
    )


def ngram_lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Corpus-trained unigram LM cross-entropy per document — the
    CCNet/Gopher-style "perplexity filter" shape with the corpus
    itself as the language model (no external model download): docs
    whose token distribution diverges from the corpus (gibberish,
    boilerplate, wrong-language) score a high ``avg_nll``.

    Model: add-one-smoothed unigram probabilities over tokens seen at
    least ``min_count`` times; rarer tokens fall to the unseen mass
    ``1/(N+V)``. Per-token ``-ln p`` is rounded to 6 decimals BEFORE
    the exact DECIMAL sum (1-ulp ln() differences between JVM and
    libm cannot move the 6th decimal of an irrational value), making
    ``avg_nll`` bit-stable across engines and partitionings.

    Scale: the token table is the scan-dominant O(total tokens) path;
    the vocabulary aggregate is map-side-combined and O(V); the
    token->vocab join shuffles on the token key (AQE handles the
    Zipf-head skew); the (N, V) totals are a 1-row scalar aggregate
    broadcast back. No Python in the row path.

    r15 (guide §3.3/§5): ``vocab`` is consumed TWICE — by the totals
    scalar and by the per-token join — and unmaterialized Spark
    replayed the whole corpus explode + aggregate once per consumer.
    An eager localCheckpoint of the O(V) vocab runs that corpus pass
    exactly once; both consumers then read vocabulary-sized rows.
    """
    tokens = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    vocab = (
        tokens.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .localCheckpoint(eager=True)
    )
    totals = vocab.agg(
        F.sum("c").alias("n_total"), F.count(F.lit(1)).alias("v_size")
    )
    scored = (
        tokens.join(vocab, "tok", "left")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "nll",
            F.round(
                -F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0))
                    / (F.col("n_total") + F.col("v_size"))
                ),
                6,
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (
            F.sum(F.col("nll").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_nll"),
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document to a bag of query terms
    (Robertson et al., TREC-3) — corpus-scale keyword retrieval as one
    dataflow, the lexical complement to the embedding ANN surface.

    score(d) = sum over matching terms of
        idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    with idf(t) = ln((N - df + 0.5) / (df + 0.5) + 1).

    Bit-stability: each per-term partial is rounded to 6 decimals
    BEFORE the exact DECIMAL sum (the ngram_lm_scores convention), so
    scores hash identically across engines and partitionings.

    Plan shape: tokens filter to the query terms IMMEDIATELY after the
    explode (the scan-dominant stage emits only |query|-term rows);
    doc lengths are a map-side aggregate of the same scan; (N, avgdl)
    is a 1-row broadcast; per-term document frequencies are O(|query|)
    rows broadcast back. Docs matching no term score 0.0 and are kept
    (filter on score > 0 for retrieval). No Python in the row path.
    """
    from odibi_spark.llm.dedup import explode_nonempty

    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = [t.lower() for t in query_terms]
    words = df.select(
        F.col(id_col),
        F.split(F.trim(F.lower(F.col(text_col))), " ").alias("__w"),
    )
    # r15 (guide §3.3/§5): doclen feeds the totals scalar AND the
    # per-doc join — checkpoint the narrow O(docs) (id, dl) frame so
    # the corpus is split for lengths once, not once per consumer
    doclen = words.select(
        F.col(id_col), F.size("__w").cast("double").alias("dl")
    ).localCheckpoint(eager=True)
    # avgdl as exact-int sum / count: one division of two exact values,
    # so the scalar is bit-identical across engines and partitionings
    # (a double AVG would be accumulation-order-dependent)
    totals = doclen.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (
            F.sum(F.col("dl").cast("long")).cast("double")
            / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    # explode_nonempty, not explode: exploding the __w ATTRIBUTE lets
    # InferFiltersFromGenerate add size(__w) > 0, and pushdown
    # substitutes split(trim(lower(text))) into the scan filter —
    # recomputing the split per row (r13 sweep)
    hits = (
        explode_nonempty(words, "__w", "tok", F.col(id_col))
        .filter(F.col("tok").isin(*terms))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dfreq = hits.groupBy("tok").agg(
        F.count(F.lit(1)).cast("double").alias("df_t")
    )
    scored = (
        hits.join(F.broadcast(dfreq), "tok")
        .join(doclen, id_col)
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "part",
            F.round(
                F.log(
                    (F.col("n_docs") - F.col("df_t") + 0.5)
                    / (F.col("df_t") + 0.5)
                    + 1.0
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                ),
                6,
            ),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("matched_terms"),
            F.sum(F.col("part").cast("decimal(18,6)"))
            .cast("double")
            .alias("bm25"),
        )
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("matched_terms", F.lit(0)).alias("matched_terms"),
            F.coalesce("bm25", F.lit(0.0)).alias("bm25"),
        )
    )


def source_divergence(
    df: DataFrame,
    strata_col: str = "source",
    text_col: str = "text",
    round_digits: int = 8,
) -> DataFrame:
    """Unigram KL divergence of each stratum's token distribution from
    the whole corpus: KL(P_s || Q) = sum_tok P_s(tok) * ln(P_s/Q) —
    the domain-drift / outlier-source signal mixture tuning needs
    (a stratum of gibberish or wrong-language text scores far from the
    corpus; near-zero means the stratum looks like everything else).

    Bit-stability (cross-engine oracle discipline): P_s and Q are exact
    integer-count divisions (deterministic IEEE doubles); each
    per-token term is rounded to ``round_digits`` BEFORE the exact
    DECIMAL sum, so the 1-ulp libm ln() difference cannot move the
    total (the ngram_lm_scores convention).

    Plan shape: one token explode feeds two map-side-combined
    aggregates — (stratum, tok) counts and tok counts — joined on the
    token key (AQE absorbs the Zipf head); stratum and corpus totals
    are O(strata)+1-row broadcasts. At 100 TB the scan dominates; the
    join moves one row per distinct (stratum, token).
    """
    tokens = df.select(
        F.col(strata_col).alias("__s"),
        F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), " ")
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    # r15 (guide §3.3/§5): everything below derives from the per-
    # stratum counts — checkpoint the O(strata x vocab) table and
    # fold the corpus counts FROM it (sum over strata of c_s is
    # exactly the corpus count), so the corpus explodes once instead
    # of once per count table
    st_counts = (
        tokens.groupBy("__s", "tok")
        .agg(F.count(F.lit(1)).alias("c_s"))
        .localCheckpoint(eager=True)
    )
    corpus_counts = st_counts.groupBy("tok").agg(
        F.sum("c_s").alias("c")
    )
    st_totals = st_counts.groupBy("__s").agg(F.sum("c_s").alias("n_s"))
    corpus_total = corpus_counts.agg(F.sum("c").alias("n"))
    p = F.col("c_s").cast("double") / F.col("n_s")
    q = F.col("c").cast("double") / F.col("n")
    term = F.round(p * F.log(p / q), round_digits)
    scored = (
        st_counts.join(corpus_counts, "tok")
        .join(F.broadcast(st_totals), "__s")
        .crossJoin(F.broadcast(corpus_total))
        .withColumn("__term", term)
    )
    return scored.groupBy("__s").agg(
        F.max("n_s").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_tokens"),
        F.sum(F.col("__term").cast("decimal(28,8)"))
        .cast("double")
        .alias("kl_to_corpus"),
    ).withColumnRenamed("__s", strata_col)


def doc_bigrams(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document adjacent word pairs, MAP-SIDE: tokens stay an array
    column (split + empty-filter preserves order), bigrams come from a
    `transform(sequence(...))` HOF — no per-doc window, no shuffle
    before the caller's aggregate. Docs with < 2 tokens produce no
    rows (there is no bigram to emit — callers that must keep them
    re-join on the id, see :func:`kn_bigram_scores`)."""
    from odibi_spark.llm.dedup import explode_nonempty

    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), " "),
        lambda t: t != "",
    )
    # CASE guard instead of filter(size(__toks) >= 2): the explicit
    # filter substituted the whole interpreted filter(split(...))
    # lambda into the parquet scan filter (r13 sweep) — short docs
    # now stage an empty array and explode to nothing, same contract.
    staged = df.select(F.col(id_col), toks.alias("__toks"))
    return explode_nonempty(
        staged,
        F.expr(
            "CASE WHEN size(__toks) >= 2 THEN "
            "transform(sequence(1, size(__toks) - 1), i -> "
            "struct(element_at(__toks, i) AS w1, "
            "element_at(__toks, i + 1) AS w2)) "
            "ELSE CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>) END"
        ),
        "__bg",
        id_col,
    ).select(id_col, "__bg.w1", "__bg.w2")


def kn_bigram_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    discount: float = 0.75,
    round_digits: int = 6,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM trained on the corpus itself,
    scoring every document's cross-entropy and perplexity — the REAL
    backoff-LM quality filter (CCNet filters on KenLM perplexity;
    Chen & Goodman 1999 is the published estimator). Upgrades
    :func:`ngram_lm_scores`' unigram shape with the full KN machinery:
    absolute discounting, continuation counts, and interpolation
    weights:

        P(w2|w1) = max(c(w1,w2) - D, 0) / c(w1·)
                   + (D · N1+(w1·) / c(w1·)) · (N1+(·w2) / N)

    where c(w1·) is the left-context total, N1+(w1·)/N1+(·w2) are the
    distinct-continuation counts, and N the distinct-bigram count.

    Bit-stability: every probability is a chain of exact-integer
    casts, IEEE divisions, and multiplications in a PINNED
    parenthesization (correctly-rounded ops — bit-identical across
    engines when the expression tree matches); per-bigram ``-ln p`` is
    rounded to ``round_digits`` BEFORE the exact DECIMAL sum (the
    ngram_lm_scores convention), and perplexity rounds ``exp`` to 4
    decimals.

    Self-scoring means every bigram/context is in the model; the left
    joins + fallbacks (unseen bigram -> interpolation weight only,
    unseen context -> continuation probability, unseen word ->
    uniform 1/N floor) exist so a model trained here can score a
    DIFFERENT corpus without NULLs.

    Scale: one map-side bigram explode feeds three map-side-combined
    aggregates (bigram, left-context, right-continuation counts); the
    distinct-bigram total is a 1-row broadcast; scoring joins shuffle
    on the bigram/word keys (AQE absorbs the Zipf head). Model size is
    O(distinct bigrams), never O(corpus). Docs with < 2 tokens return
    ``n_bigrams = 0`` with NULL scores (flag, don't guess).
    """
    bigrams = doc_bigrams(df, id_col, text_col)
    # the model table is referenced 4x (probe join + three derived
    # count tables): checkpointing it truncates the duplicated
    # corpus-explode subtrees — without it the logical plan repeats
    # the tokenize+explode+aggregate chain per reference, and in
    # pipeline compositions (ccnet) that multiplied the upstream
    # cleaning subtree into a 100+-Exchange plan whose analysis and
    # codegen dominated wall time (r15; guide §3.3 "materialise an
    # intermediate to truncate the plan"). O(distinct bigrams) — the
    # model, not the corpus.
    bg_counts = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint(eager=True)
    )
    left_ctx = bg_counts.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n_post")
    )
    right_cont = bg_counts.groupBy("w2").agg(
        F.count(F.lit(1)).alias("n_pre")
    )
    n_types = bg_counts.agg(F.count(F.lit(1)).alias("n_types"))

    d = F.lit(float(discount))
    p_cont = F.coalesce(
        F.col("n_pre").cast("double") / F.col("n_types"),
        F.lit(1.0) / F.col("n_types"),  # unseen word floor
    )
    p_big = (
        F.greatest(F.col("c12") - d, F.lit(0.0)) / F.col("c1")
        + ((d * F.col("n_post")) / F.col("c1")) * p_cont
    )
    p = F.when(F.col("c1").isNotNull(), p_big).otherwise(p_cont)
    scored = (
        bigrams.join(bg_counts, ["w1", "w2"], "left")
        .join(left_ctx, "w1", "left")
        .join(right_cont, "w2", "left")
        .crossJoin(F.broadcast(n_types))
        .withColumn("__nll", F.round(-F.log(p), round_digits))
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (
            F.sum(F.col("__nll").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_nll"),
    )
    return (
        df.select(id_col).distinct()
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            F.col("avg_nll"),
            F.round(F.exp(F.col("avg_nll")), 4).alias("ppl"),
        )
    )


def doc_trigrams(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document adjacent word TRIPLES — the doc_bigrams contract
    at order 3 (map-side HOF, explode_nonempty, docs with < 3 tokens
    emit nothing)."""
    from odibi_spark.llm.dedup import explode_nonempty

    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), " "),
        lambda t: t != "",
    )
    # CASE guard instead of filter(size(__toks) >= 3) — see
    # doc_bigrams (the filter pushed the interpreted lambda into the
    # scan filter; the guard keeps the short-doc contract).
    staged = df.select(F.col(id_col), toks.alias("__toks"))
    return explode_nonempty(
        staged,
        F.expr(
            "CASE WHEN size(__toks) >= 3 THEN "
            "transform(sequence(1, size(__toks) - 2), i -> "
            "struct(element_at(__toks, i) AS w1, "
            "element_at(__toks, i + 1) AS w2, "
            "element_at(__toks, i + 2) AS w3)) ELSE CAST(array() AS "
            "ARRAY<STRUCT<w1: STRING, w2: STRING, w3: STRING>>) END"
        ),
        "__tg",
        id_col,
    ).select(id_col, "__tg.w1", "__tg.w2", "__tg.w3")


def kn_trigram_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    discount: float = 0.75,
    round_digits: int = 6,
) -> DataFrame:
    """Interpolated Kneser-Ney TRIGRAM LM with the full three-order
    backoff chain (Chen & Goodman 1999) — :func:`kn_bigram_scores`
    one order up, which is where a perplexity filter starts to see
    real phrase structure (CCNet ships a 5-gram KenLM; the estimator
    machinery is identical per order):

        P3(w3|w1 w2) = max(c(w123) - D, 0) / c(w12·)
                       + (D · N1+(w12·) / c(w12·)) · P2c(w3|w2)
        P2c(w3|w2)   = max(N1+(·w2 w3) - D, 0) / N1+(·w2·)
                       + (D · N1+(w2·*) / N1+(·w2·)) · P1c(w3)
        P1c(w3)      = N1+(·· w3) / N2

    where the lower orders use CONTINUATION counts (distinct left
    contexts), N1+(w2·*) counts distinct continuations of w2 in the
    continuation-bigram table, and N2 is the distinct-bigram total.

    Same bit-stability contract as the bigram scorer: exact integer
    counts, pinned IEEE parenthesization, per-trigram ``-ln p``
    rounded before the exact DECIMAL fold. Docs with < 3 tokens get
    ``n_trigrams = 0`` and NULL scores.

    Scale: one map-side trigram explode feeds the count cascade —
    trigram counts, (w1,w2) context totals, (w2,w3) continuation
    counts, per-w2 middle-order totals, per-w3 continuation counts —
    every one a map-side-combined groupBy whose output is O(distinct
    n-grams); scoring joins on the trigram/bigram/word keys (AQE
    absorbs the Zipf head); N2 is the single 1-row broadcast.
    """
    tri = doc_trigrams(df, id_col, text_col)
    # checkpoint the two multiply-referenced model tables (tri_c 3x,
    # cont23 4x) — same plan-truncation rationale as kn_bigram_scores;
    # both are O(distinct n-grams), the model, not the corpus
    tri_c = (
        tri.groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c123"))
        .localCheckpoint(eager=True)
    )
    ctx12 = tri_c.groupBy("w1", "w2").agg(
        F.sum("c123").alias("c12"), F.count(F.lit(1)).alias("n_post12")
    )
    cont23 = (
        tri_c.groupBy("w2", "w3")
        .agg(F.count(F.lit(1)).alias("n_pre23"))
        .localCheckpoint(eager=True)
    )
    mid2 = cont23.groupBy("w2").agg(
        F.sum("n_pre23").alias("n_mid2"),
        F.count(F.lit(1)).alias("n_post2"),
    )
    cont3 = cont23.groupBy("w3").agg(F.count(F.lit(1)).alias("n_pre3"))
    n2 = cont23.agg(F.count(F.lit(1)).alias("n_types2"))

    d = F.lit(float(discount))
    p1 = F.coalesce(
        F.col("n_pre3").cast("double") / F.col("n_types2"),
        F.lit(1.0) / F.col("n_types2"),
    )
    p2 = F.when(
        F.col("n_mid2").isNotNull(),
        F.greatest(F.coalesce(F.col("n_pre23"), F.lit(0)) - d, F.lit(0.0))
        / F.col("n_mid2")
        + ((d * F.col("n_post2")) / F.col("n_mid2")) * p1,
    ).otherwise(p1)
    p3 = F.when(
        F.col("c12").isNotNull(),
        F.greatest(F.coalesce(F.col("c123"), F.lit(0)) - d, F.lit(0.0))
        / F.col("c12")
        + ((d * F.col("n_post12")) / F.col("c12")) * p2,
    ).otherwise(p2)
    scored = (
        tri.join(tri_c, ["w1", "w2", "w3"], "left")
        .join(ctx12, ["w1", "w2"], "left")
        .join(cont23, ["w2", "w3"], "left")
        .join(mid2, "w2", "left")
        .join(cont3, "w3", "left")
        .crossJoin(F.broadcast(n2))
        .withColumn("__nll", F.round(-F.log(p3), round_digits))
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        (
            F.sum(F.col("__nll").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_nll"),
    )
    return (
        df.select(id_col).distinct()
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_trigrams"), F.lit(0)).alias("n_trigrams"),
            F.col("avg_nll"),
            F.round(F.exp(F.col("avg_nll")), 4).alias("ppl"),
        )
    )
