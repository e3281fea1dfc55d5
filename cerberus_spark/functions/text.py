"""Text-analysis functions for training-data pipelines: token counting,
quality scoring, language ID as pure Catalyst expressions (regex +
arithmetic), and the Gopher repetition signals and gate as one Arrow
pass per document — all deterministic and reproducible in SQL for the
oracle.  The reference's string scalar family (DNS label parsing,
HTTP method/path extraction, internal/utils/converter.go:121-191) maps
to the same regexp_extract/when machinery.
"""

from __future__ import annotations

import re
import unicodedata
from collections import Counter
from math import floor

from pyspark.sql import Column
from pyspark.sql import functions as F

from cerberus_spark.operators.dedup import _normalize_py

# Small fixed stopword inventories (public knowledge) used for both the
# quality score and the n-gram language-ID heuristic.
STOPWORDS_EN = ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"]
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is"],
    "de": ["der", "die", "und", "ist"],
    "fr": ["le", "la", "et", "est"],
    "es": ["el", "los", "que", "es"],
}

# BPE-ish tokenization regex: word pieces, numbers, or single
# punctuation — a public, deterministic approximation of byte-pair
# pre-tokenizers (GPT-2-style contractions omitted for SQL parity).
BPEISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# One maximal run of non-whitespace = one token.  The class is spelled
# with explicit hex escapes (TAB LF VT FF CR SPACE) instead of ``\s`` so
# Java regex (Spark) and RE2 (DuckDB) — whose ``\s`` definitions and
# split()/string_split_regex trailing-empty semantics have diverged
# across engine versions — interpret the SAME pattern string
# identically.  Oracle SQL is generated from this constant
# (``len(regexp_extract_all(col, PATTERN))``) so the engines cannot
# drift.  Match-counting also sidesteps trim()/blank-string edge cases
# entirely: whitespace-only text counts 0 with no special case.
TOKEN_RUN_PATTERN = r"[^\x09\x0a\x0b\x0c\x0d\x20]+"


def token_count_ws(col: Column) -> Column:
    """Whitespace token count of trimmed text (0 for empty/blank)."""
    t = F.trim(col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def token_count_robust(col: Column) -> Column:
    """Engine-portable whitespace token count: number of maximal
    non-whitespace runs (``TOKEN_RUN_PATTERN`` matches).  Equals
    ``token_count_ws`` on well-formed text but has no split/trim edge
    cases, so it is the counter of choice for cross-engine oracle pairs
    (see token_count_robust_sql for the generated DuckDB twin)."""
    return F.regexp_count(col, F.lit(TOKEN_RUN_PATTERN)).cast("long")


def token_count_robust_sql(expr: str) -> str:
    """DuckDB twin of :func:`token_count_robust`, generated from the
    same pattern constant so the two engines cannot drift."""
    return f"len(regexp_extract_all({expr}, '{TOKEN_RUN_PATTERN}'))::BIGINT"


def token_count_bpeish(col: Column) -> Column:
    """Count of BPE-ish tokens via regexp_count."""
    return F.regexp_count(col, F.lit(BPEISH_PATTERN))


def _word_hits(col: Column, words: list[str]) -> Column:
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.regexp_count(F.lower(col), F.lit(pat))


def quality_score_milli(col: Column) -> Column:
    """Exact-integer quality score in [0, 1000] — engine-portable:
    length, punctuation share and stopword presence, in pure integer
    arithmetic (floor-div with +half rounding), bit-identical in any
    SQL engine (a double formula lands on round-half boundaries, e.g.
    9 stopwords / 80 tokens -> 0.86875, where the last ulp differs
    between engines):

        400*length_ok
      + floor((600*(chars - punct) + chars) / (2*chars))
      + floor((600*min(5*sw, ntok) + ntok) / (2*ntok))
    """
    n = F.length(col).cast("long")
    pc = F.regexp_count(col, F.lit(r"[^\w\s]")).cast("long")
    ntok = token_count_ws(col).cast("long")
    sw = _word_hits(col, STOPWORDS_EN).cast("long")
    length_ok = F.when((n >= 20) & (n <= 20000), F.lit(400)).otherwise(F.lit(0)).cast("long")
    punct_part = F.when(
        (n.isNull()) | (n == 0), F.lit(300).cast("long")
    ).otherwise(F.floor((F.lit(600) * (n - pc) + n) / (F.lit(2) * n)).cast("long"))
    sw_part = F.when(ntok == 0, F.lit(0).cast("long")).otherwise(
        F.floor(
            (F.lit(600) * F.least(F.lit(5) * sw, ntok) + ntok) / (F.lit(2) * ntok)
        ).cast("long")
    )
    return (length_ok + punct_part + sw_part).alias("quality_milli")


def vocabulary(df, text_col: str, id_col: str, min_df: int = 1):
    """Corpus vocabulary statistics: one row per term with document
    frequency (docs containing it) and collection frequency (total
    occurrences).

    explode normalized words -> ONE shuffle on term with map-side
    partial aggregation; the per-term state is two counters, so the
    reduce side is |vocab|-sized regardless of corpus size.  count
    DISTINCT doc_id per term is the only expansion — Spark plans it as
    a two-phase distinct-then-count, still keyed on term.
    """
    from cerberus_spark.operators.dedup import normalize_text

    words = F.split(normalize_text(F.col(text_col)), " ")
    ex = df.select(F.col(id_col).alias("_doc"), F.explode(words).alias("term")).filter(
        F.col("term") != ""
    )
    return (
        ex.groupBy("term")
        .agg(
            F.count_distinct(F.col("_doc")).alias("df"),
            F.count(F.lit(1)).alias("cf"),
        )
        .filter(F.col("df") >= min_df)
    )


def lang_id(col: Column) -> Column:
    """Marker-word language ID: pick the language with the most marker
    hits; ties and zero-hit rows -> 'und'.  First-match-wins via an
    ordered when-chain over pairwise comparisons (small fixed domain),
    exactly reproducible in SQL."""
    hits = {lang: _word_hits(col, words) for lang, words in LANG_MARKERS.items()}
    langs = list(LANG_MARKERS)
    best = None
    for lang in langs:
        others = [hits[o] for o in langs if o != lang]
        cond = (hits[lang] > 0)
        for o in others:
            cond = cond & (hits[lang] >= o)
        # strictly-greater than all earlier langs to make ties -> first
        # in declaration order deterministic; we instead require >= all
        # and tiebreak by declaration order via chain ordering
        arm = F.when(cond, F.lit(lang))
        best = arm if best is None else best.when(cond, F.lit(lang))
    return best.otherwise(F.lit("und"))


def unigram_logprob_scores(
    df,
    text_col: str,
    id_col: str,
    vocab_size: int | None = None,
):
    """(id, unigram_nll, n_tokens): per-document average negative log
    likelihood under a unigram LM fit on the corpus itself — the
    CCNet-style fluency/quality signal (low = common language, very
    high = gibberish or rare-token soup).

    Scale shape: pass 1 builds word counts (ONE shuffle with map-side
    partial agg, reduce side is |vocab|-sized); pass 2 re-explodes the
    corpus and BROADCAST left-joins the (optionally top-``vocab_size``)
    frequency table — the corpus itself never shuffles to be scored;
    the final per-doc mean partial-aggregates map-side (exploded words
    of a doc are partition-contiguous), so the groupBy moves ~|docs|
    rows.  Out-of-vocabulary words (only possible when ``vocab_size``
    caps the broadcast) score at the floor ``ln(1/total)``.
    """
    from cerberus_spark.operators.dedup import normalize_text

    words_expr = F.split(normalize_text(F.col(text_col)), " ")
    words = df.select(
        F.col(id_col), F.explode(words_expr).alias("_w")
    ).filter(F.col("_w") != "")
    counts = words.groupBy("_w").agg(F.count(F.lit(1)).alias("_cnt"))
    total_row = counts.agg(F.sum("_cnt").alias("_total"))
    vocab = counts
    if vocab_size is not None:
        # deterministic top-V (TakeOrdered): ties broken on the word
        vocab = counts.orderBy(F.col("_cnt").desc(), F.col("_w").asc()).limit(vocab_size)
    scored = words.join(F.broadcast(vocab), on="_w", how="left").crossJoin(
        F.broadcast(total_row)
    )
    logp = F.when(
        F.col("_cnt").isNotNull(), F.log(F.col("_cnt") / F.col("_total"))
    ).otherwise(F.log(F.lit(1.0) / F.col("_total")))
    return scored.groupBy(id_col).agg(
        (-F.avg(logp)).alias("unigram_nll"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


def bigram_logprob_scores(
    df,
    text_col: str,
    id_col: str,
    vocab_size: int | None = None,
    bigram_size: int | None = None,
    lam: float = 0.5,
):
    """(id, bigram_nll, n_bigrams): per-document average negative log
    likelihood under an interpolated bigram LM fit on the corpus
    itself — the context-aware upgrade of :func:`unigram_logprob_scores`
    (CCNet-style fluency filtering; a unigram model scores shuffled
    word salad identically to prose, a bigram model does not).

    Model: ``p(c|p) = lam * cnt(p c)/cnt(p) + (1-lam) * p_uni(c)`` with
    ``p_uni(c) = cnt(c)/total`` and OOV floor ``1/total`` — standard
    fixed-weight interpolation, so the score is defined for every pair
    (the unigram term never vanishes).  The bigram term drops to 0 when
    the pair or its context falls outside the (optionally capped)
    frequency tables.  Documents with fewer than two tokens emit no
    bigrams and are absent from the output, mirroring how empty docs
    are absent from the unigram scorer.

    Scale shape: two count passes (ONE map-side-partial shuffle each,
    reduce side |vocab| / |bigram vocab|), then the corpus re-explodes
    pairs map-side (``zip_with`` over the token array — adjacent pairs
    never require a positional self-join) and BROADCAST left-joins the
    capped tables; the per-doc mean partial-aggregates map-side.  At
    web scale ``vocab_size``/``bigram_size`` bound both broadcasts; the
    caps are deterministic top-N (count desc, key asc).
    """
    from cerberus_spark.operators.dedup import normalize_text

    if not (0.0 <= lam < 1.0):
        # lam == 1.0 drops the unigram floor: an unseen pair would hit
        # log(0); the mixture must keep the always-positive term
        raise ValueError(f"lam must be in [0, 1), got {lam}")

    words_expr = F.filter(
        F.split(normalize_text(F.col(text_col)), " "), lambda x: x != ""
    )
    toks = df.select(F.col(id_col), words_expr.alias("_arr"))
    # adjacent pairs, map-side: zip arr[0:n-1] with arr[1:n]
    n = F.size(F.col("_arr"))
    pairs_expr = F.zip_with(
        F.slice(F.col("_arr"), 1, n - 1),
        F.slice(F.col("_arr"), 2, n - 1),
        lambda a, b: F.struct(a.alias("_p"), b.alias("_c")),
    )
    pairs = (
        toks.filter(n >= 2)
        .select(F.col(id_col), F.explode(pairs_expr).alias("_pc"))
        .select(F.col(id_col), F.col("_pc._p").alias("_p"), F.col("_pc._c").alias("_c"))
    )

    words = toks.select(F.col(id_col), F.explode(F.col("_arr")).alias("_w"))
    uni = words.groupBy("_w").agg(F.count(F.lit(1)).alias("_ucnt"))
    total_row = uni.agg(F.sum("_ucnt").alias("_total"))
    if vocab_size is not None:
        uni = uni.orderBy(F.col("_ucnt").desc(), F.col("_w").asc()).limit(vocab_size)
    bi = pairs.groupBy("_p", "_c").agg(F.count(F.lit(1)).alias("_bcnt"))
    if bigram_size is not None:
        bi = bi.orderBy(
            F.col("_bcnt").desc(), F.col("_p").asc(), F.col("_c").asc()
        ).limit(bigram_size)

    prev_cnt = uni.select(F.col("_w").alias("_p"), F.col("_ucnt").alias("_pcnt"))
    cur_cnt = uni.select(F.col("_w").alias("_c"), F.col("_ucnt").alias("_ccnt"))
    scored = (
        pairs.join(F.broadcast(bi), on=["_p", "_c"], how="left")
        .join(F.broadcast(prev_cnt), on="_p", how="left")
        .join(F.broadcast(cur_cnt), on="_c", how="left")
        .crossJoin(F.broadcast(total_row))
    )
    p_bi = F.when(
        F.col("_bcnt").isNotNull() & F.col("_pcnt").isNotNull(),
        F.col("_bcnt") / F.col("_pcnt"),
    ).otherwise(F.lit(0.0))
    p_uni = F.when(
        F.col("_ccnt").isNotNull(), F.col("_ccnt") / F.col("_total")
    ).otherwise(F.lit(1.0) / F.col("_total"))
    logp = F.log(F.lit(lam) * p_bi + F.lit(1.0 - lam) * p_uni)
    return scored.groupBy(id_col).agg(
        (-F.avg(logp)).alias("bigram_nll"),
        F.count(F.lit(1)).alias("n_bigrams"),
    )


def normalize_unicode(col, form: str = "NFC", strip_controls: bool = True):
    """Unicode-normalize a text column (Arrow pandas_udf —
    ``unicodedata.normalize`` has no Catalyst equivalent) and
    optionally strip C0/C1 control characters (keeping \\t \\n \\r).

    The canonical first step of every web-corpus text pipeline: the
    SAME grapheme can arrive composed (U+00E9) or decomposed
    (e + U+0301), and exact/MinHash/winnowing dedup all treat those as
    DIFFERENT bytes unless normalized first.  NFC agreement with
    DuckDB's ``nfc_normalize`` is pytest-locked, so normalized
    fingerprints stay cross-engine comparable.  NULL in -> NULL out.
    """
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    def _norm(s):  # (pd.Series) -> pd.Series; hints omitted — Spark 4
        # resolves string annotations and pandas isn't module-level here
        return s.map(lambda v: normalize_unicode_py(v, form, strip_controls))

    udf = F.pandas_udf(_norm, "string")
    return udf(F.col(col) if isinstance(col, str) else col)


# category Cc is exactly U+0000-001F + U+007F-009F; keep \t\n\r
_CONTROL_RE = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]")


def normalize_unicode_py(text, form: str = "NFC", strip_controls: bool = True):
    """One text of :func:`normalize_unicode` (NULL in -> NULL out) —
    the per-row body shared with ``clean_corpus``'s fused document
    pass."""
    if text is None:
        return None
    out = unicodedata.normalize(form, text)
    return _CONTROL_RE.sub("", out) if strip_controls else out


# ---------------------------------------------------------------------------
# Within-document repetition (Gopher-style quality filters)
# ---------------------------------------------------------------------------
# Heavily templated / boilerplate documents are the classic LLM-corpus
# junk class; the public Gopher/RefinedWeb rules filter on the fraction
# of repeated words and n-grams WITHIN each document.  Every signal is
# per-document Python over one Counter, run in one Arrow pass per
# document: zero shuffles, and one tokenization however many signals
# (Catalyst's higher-order array folds are interpreted, and
# CollapseProject re-inlines the tokenization once per signal).  The
# DuckDB doc_repetition, ngram_repetition and gopher_gate contract
# pairs replay every signal in SQL.


def _repetition(words: list[str], top_ks=(), dup_ks=()):
    """Repetition signals of ONE document's normalized words
    (``_normalize_py(text).split(" ")``, so at least one word, as
    Spark's ``split("", " ")`` gives ``[""]``):

    - ``dup_word``: permille of word occurrences that repeat an earlier
      word, floored;
    - ``top_word``: permille of occurrences taken by the most frequent
      word;
    - ``dup_2gram``: permille of word 2-grams that repeat (Gopher's
      duplicate n-gram fraction at k=2); None under 2 words;
    - ``top[k]``: permille of the text's characters covered by the most
      frequent word k-gram (count x gram length / total chars; ties on
      count take the LONGEST gram), for each k in ``top_ks``;
    - ``dup[k]``: permille of characters covered by k-grams occurring
      more than once, summed per occurrence (the SQL-replayable
      approximation of Gopher's coverage union, which it upper-bounds,
      so caps are conservative), for each k in ``dup_ks``.

    Returns ``(dup_word, top_word, dup_2gram, top, dup)``; ``top`` and
    ``dup`` hold only the asked-for k that the document has k words
    for.  Only the asked-for k-grams are counted, so the gate pays
    nothing for caps it does not set."""
    n = len(words)
    wc = Counter(words)
    dup_2 = None
    if n >= 2:
        g2 = [words[i] + " " + words[i + 1] for i in range(n - 1)]
        dup_2 = floor(1000 * (len(g2) - len(set(g2))) / len(g2))
    top, dup = {}, {}
    total = len(" ".join(words)) if top_ks or dup_ks else 0
    for k in sorted({*top_ks, *dup_ks}):
        if n < k or total == 0:
            continue
        gc = Counter(" ".join(words[i : i + k]) for i in range(n - k + 1))
        if k in top_ks:
            tc = max(gc.values())
            tl = max(len(g) for g, c in gc.items() if c == tc)
            top[k] = floor(1000 * tc * tl / total)
        if k in dup_ks:
            dup[k] = floor(1000 * sum(c * len(g) for g, c in gc.items() if c > 1) / total)
    return (
        floor(1000 * (n - len(wc)) / n),
        floor(1000 * max(wc.values()) / n),
        dup_2,
        top,
        dup,
    )


def repetition_metrics(
    df,
    text_col: str,
    id_col: str,
    char_ks: tuple[int, ...] = (),
):
    """ALL the repetition signals in ONE Arrow pass:
    (id, dup_word_milli, top_word_milli, dup_2gram_milli
    [, top_{k}gram_char_milli, dup_{k}gram_char_milli per k]), each
    from :func:`_repetition`.  NULL text gives NULL metrics, as does a
    document with fewer words than a metric's gram (measured 36x faster
    than Catalyst folds on the 5k-doc sf0.1 corpus, 18.3s -> 0.50s for
    the 5-signal scan, BASELINE.md §Corpus-cleaning)."""
    import pandas as pd

    from cerberus_spark.sources.tables import spread

    ks = tuple(char_ks)

    def one(text):
        if text is None:
            return (None,) * (3 + 2 * len(ks))
        dup_w, top_w, dup_2, top, dup = _repetition(_normalize_py(text).split(" "), ks, ks)
        out = [dup_w, top_w, dup_2]
        for k in ks:
            out += [top.get(k), dup.get(k)]
        return tuple(out)

    names = ["dup_word_milli", "top_word_milli", "dup_2gram_milli"]
    for k in ks:
        names += [f"top_{k}gram_char_milli", f"dup_{k}gram_char_milli"]

    def compute(batches):
        for b in batches:
            if len(b) == 0:
                continue  # empty pandas yields break the Arrow cast
            vals = [one(t) for t in b[text_col]]
            data = {id_col: b[id_col]}
            for i, nm in enumerate(names):
                data[nm] = pd.array([v[i] for v in vals], dtype="Int64")
            yield pd.DataFrame(data)

    id_t = df.schema[id_col].dataType.simpleString()
    schema = ", ".join([f"{id_col} {id_t}"] + [f"{nm} long" for nm in names])
    return spread(df.select(id_col, text_col)).mapInPandas(compute, schema=schema)


def _py_token_count_ws(text: str) -> int:
    """Python twin of token_count_ws, replicating Spark exactly:
    F.trim strips SPACES only; Java split keeps leading empty strings
    and drops trailing ones; Java \\s is ASCII."""
    import re

    t = text.strip(" ")
    if t == "":
        return 0
    parts = re.split("[ \t\n\x0b\x0c\r]+", t)
    while parts and parts[-1] == "":
        parts.pop()
    return len(parts)


_PY_PUNCT_RE = None
_PY_SW_RE = None


def _py_quality_milli(text: str) -> int:
    """Python twin of quality_score_milli — ASCII regex classes match
    Java's default (non-UNICODE_CHARACTER_CLASS) semantics."""
    global _PY_PUNCT_RE, _PY_SW_RE
    import re

    if _PY_PUNCT_RE is None:
        _PY_PUNCT_RE = re.compile(r"[^\w\s]", re.ASCII)
        _PY_SW_RE = re.compile(
            r"\b(" + "|".join(STOPWORDS_EN) + r")\b", re.ASCII
        )
    n = len(text)
    pc = len(_PY_PUNCT_RE.findall(text))
    ntok = _py_token_count_ws(text)
    sw = len(_PY_SW_RE.findall(text.lower()))
    length_ok = 400 if 20 <= n <= 20000 else 0
    punct_part = 300 if n == 0 else (600 * (n - pc) + n) // (2 * n)
    sw_part = 0 if ntok == 0 else (600 * min(5 * sw, ntok) + ntok) // (2 * ntok)
    return length_ok + punct_part + sw_part


def gopher_reasons(
    text,
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    max_dup_word_milli: int = 300,
    max_top_word_milli: int = 200,
    max_dup_2gram_milli: int = 200,
    min_quality_milli: int = 500,
    max_top_ngram_char_milli: dict[int, int] | None = None,
    max_dup_ngram_char_milli: dict[int, int] | None = None,
) -> list[str]:
    """The failed-gate names of ONE text, in this order: ``too_short``,
    ``too_long`` (whitespace token budget), ``dup_words``,
    ``top_word_dominates``, ``dup_2grams`` (the :func:`_repetition`
    permilles), ``low_quality`` (the integer quality score), then
    ``top_{k}gram_chars`` and ``dup_{k}gram_chars`` for each capped k.
    ``[]`` = keep; a NULL text trips no predicate and keeps, as in
    Cerberus where absent means not-invalid.

    Thresholds default to the published Gopher-rule ballpark and are
    parameters, not policy.  The character-coverage caps are off by
    default: pass ``max_top_ngram_char_milli={2: 200, 3: 180, 4: 160}``
    and/or ``max_dup_ngram_char_milli={5: 150, ..., 10: 100}`` to
    enable them; each enabled k counts that k's grams once more per
    document.  The per-row body of :func:`gopher_report_arrow` and of
    ``clean_corpus``'s fused document pass."""
    if text is None:
        return []
    out = []
    ntok = _py_token_count_ws(text)
    if ntok < min_tokens:
        out.append("too_short")
    if ntok > max_tokens:
        out.append("too_long")
    top_caps = max_top_ngram_char_milli or {}
    dup_caps = max_dup_ngram_char_milli or {}
    dup_w, top_w, dup_2, top, dup = _repetition(
        _normalize_py(text).split(" "), top_caps, dup_caps
    )
    if dup_w > max_dup_word_milli:
        out.append("dup_words")
    if top_w > max_top_word_milli:
        out.append("top_word_dominates")
    if dup_2 is not None and dup_2 > max_dup_2gram_milli:
        out.append("dup_2grams")
    if _py_quality_milli(text) < min_quality_milli:
        out.append("low_quality")
    # a k the document is too short for has no value and never trips
    for k, thr in sorted(top_caps.items()):
        if top.get(k, thr) > thr:
            out.append(f"top_{k}gram_chars")
    for k, thr in sorted(dup_caps.items()):
        if dup.get(k, thr) > thr:
            out.append(f"dup_{k}gram_chars")
    return out


def gopher_report_arrow(df, text_col: str, **thresholds):
    """Composite Gopher-style keep/drop gate in ONE Arrow pass per
    document: :func:`gopher_reasons` (whose keywords are the
    ``thresholds``) over ``text_col``.  Emits all input columns plus
    ``reasons`` array<string> (every failed gate, so corpus triage can
    ``explode(reasons)`` -> groupBy instead of re-running filters) and
    ``keep`` boolean.  A per-row pass: zero exchanges.  The DuckDB
    gopher_gate pair replays the gate in SQL."""
    gopher_reasons(None, **thresholds)  # rejects unknown thresholds here
    in_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema)

    def compute(batches):
        for b in batches:
            if len(b) == 0:
                continue  # empty pandas yields break the Arrow cast
            rs = [gopher_reasons(t, **thresholds) for t in b[text_col]]
            b = b.copy()
            b["reasons"] = rs
            b["keep"] = [len(r) == 0 for r in rs]
            yield b

    return df.mapInPandas(
        compute, schema=f"{in_schema}, reasons array<string>, keep boolean"
    )
