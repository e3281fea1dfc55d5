"""Text functions vs straightforward Python reimplementations."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from cerberus_spark.functions.text import (
    BPEISH_PATTERN,
    STOPWORDS_EN,
    lang_id,
    quality_score_milli,
    token_count_bpeish,
    token_count_ws,
)

TEXTS = [
    "The quick brown fox, jumps! Over 42 lazy dogs.",
    "der die und ist der hund",
    "le chat et la maison est grande",
    "",
    "   ",
    "one-token",
    "a b c d e f g h i j k l m n o p q r s t u v w x y z " * 3,
]


@pytest.fixture(scope="module")
def text_df(spark):
    return spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS)], "id long, text string")


def py_tok_ws(t: str) -> int:
    t = t.strip()
    return 0 if not t else len(re.split(r"\s+", t))


def py_tok_bpe(t: str) -> int:
    return len(re.findall(BPEISH_PATTERN, t))


def py_quality_milli(t: str) -> int:
    n = len(t)
    pc = len(re.findall(r"[^\w\s]", t))
    ntok = py_tok_ws(t)
    sw = len(re.findall(r"\b(" + "|".join(STOPWORDS_EN) + r")\b", t.lower()))
    length_ok = 400 if 20 <= n <= 20000 else 0
    punct_part = 300 if n == 0 else (600 * (n - pc) + n) // (2 * n)
    sw_part = 0 if ntok == 0 else (600 * min(5 * sw, ntok) + ntok) // (2 * ntok)
    return length_ok + punct_part + sw_part


def test_token_counts(spark, text_df):
    got = {r.id: (r.ws, r.bpe) for r in text_df.select(
        "id",
        token_count_ws(F.col("text")).alias("ws"),
        token_count_bpeish(F.col("text")).alias("bpe"),
    ).collect()}
    for i, t in enumerate(TEXTS):
        assert got[i] == (py_tok_ws(t), py_tok_bpe(t)), (i, t)


def test_quality_milli(spark, text_df):
    got = {r.id: r.q for r in text_df.select(
        "id", quality_score_milli(F.col("text")).alias("q")
    ).collect()}
    for i, t in enumerate(TEXTS):
        assert got[i] == py_quality_milli(t), (i, t)


def test_lang_id(spark, text_df):
    got = {r.id: r.lang for r in text_df.select(
        "id", lang_id(F.col("text")).alias("lang")
    ).collect()}
    assert got[0] == "en"
    assert got[1] == "de"
    assert got[2] == "fr"
    assert got[3] == "und"
    assert got[4] == "und"


def test_unigram_logprob_matches_python(spark):
    """Spark NLL == a hand-rolled python unigram LM, including the OOV
    floor when the vocab is capped."""
    import math

    from cerberus_spark.functions.text import unigram_logprob_scores

    rows = [("d1", "a a b c"), ("d2", "a b b z"), ("d3", "q q a")]
    df = spark.createDataFrame(rows, "doc_id string, text string")

    words = [w for _, t in rows for w in t.split()]
    total = len(words)
    cnt: dict = {}
    for w in words:
        cnt[w] = cnt.get(w, 0) + 1

    def nll(text, vocab):
        lps = [
            math.log(cnt[w] / total) if w in vocab else math.log(1.0 / total)
            for w in text.split()
        ]
        return -sum(lps) / len(lps)

    # uncapped: every word in vocab
    got = {
        r.doc_id: (r.unigram_nll, r.n_tokens)
        for r in unigram_logprob_scores(df, "text", "doc_id").collect()
    }
    for d, t in rows:
        assert abs(got[d][0] - nll(t, cnt)) < 1e-12
        assert got[d][1] == len(t.split())

    # capped at top-2 (by cnt desc then word asc): a(4), b(3) in; c,q,z OOV
    top2 = {"a", "b"}
    got2 = {
        r.doc_id: r.unigram_nll
        for r in unigram_logprob_scores(df, "text", "doc_id", vocab_size=2).collect()
    }
    for d, t in rows:
        assert abs(got2[d] - nll(t, top2)) < 1e-12
    assert got2["d3"] > got["d3"][0]  # OOV floor raises the score


def test_unigram_scoring_join_is_broadcast(spark):
    from cerberus_spark.functions.text import unigram_logprob_scores

    df = spark.createDataFrame([("d1", "a b"), ("d2", "a c")], "doc_id string, text string")
    plan = (
        unigram_logprob_scores(df, "text", "doc_id", vocab_size=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_bigram_logprob_matches_python(spark):
    """Spark interpolated-bigram NLL == a hand-rolled python twin,
    including capped-table fallbacks, and context-awareness: scrambled
    word order raises the bigram score while the unigram score is
    order-blind."""
    import math

    from cerberus_spark.functions.text import (
        bigram_logprob_scores,
        unigram_logprob_scores,
    )

    rows = [
        ("d1", "the cat sat on the mat"),
        ("d2", "the cat sat on the mat"),
        ("d3", "mat the on sat cat the"),  # same bag of words, scrambled
        ("d4", "solo"),                    # <2 tokens -> no output row
        ("d5", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")

    texts = [t for _, t in rows if t]
    words = [w for t in texts for w in t.split()]
    total = len(words)
    ucnt: dict = {}
    bcnt: dict = {}
    for t in texts:
        ws = t.split()
        for w in ws:
            ucnt[w] = ucnt.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            bcnt[(a, b)] = bcnt.get((a, b), 0) + 1

    def nll(text, uni, bi, lam=0.5):
        ws = text.split()
        lps = []
        for a, b in zip(ws, ws[1:]):
            p_bi = bi[(a, b)] / uni[a] if (a, b) in bi and a in uni else 0.0
            p_uni = uni[b] / total if b in uni else 1.0 / total
            lps.append(math.log(lam * p_bi + (1 - lam) * p_uni))
        return -sum(lps) / len(lps)

    got = {
        r.doc_id: (r.bigram_nll, r.n_bigrams)
        for r in bigram_logprob_scores(df, "text", "doc_id").collect()
    }
    assert set(got) == {"d1", "d2", "d3"}  # d4/d5 emit no bigrams
    for d, t in rows[:3]:
        assert abs(got[d][0] - nll(t, ucnt, bcnt)) < 1e-12
        assert got[d][1] == len(t.split()) - 1

    # context-awareness: scrambled doc scores strictly worse on bigrams...
    assert got["d3"][0] > got["d1"][0]
    # ...while the unigram model cannot tell them apart
    ug = {
        r.doc_id: r.unigram_nll
        for r in unigram_logprob_scores(df, "text", "doc_id").collect()
    }
    assert abs(ug["d3"] - ug["d1"]) < 1e-12

    # capped tables: top-2 unigrams {the(6), cat(3)... tie} — verify via twin
    top2 = dict(sorted(ucnt.items(), key=lambda kv: (-kv[1], kv[0]))[:2])
    top3b = dict(sorted(bcnt.items(), key=lambda kv: (-kv[1], kv[0]))[:3])
    got2 = {
        r.doc_id: r.bigram_nll
        for r in bigram_logprob_scores(
            df, "text", "doc_id", vocab_size=2, bigram_size=3
        ).collect()
    }
    for d, t in rows[:3]:
        assert abs(got2[d] - nll(t, top2, top3b)) < 1e-12


def test_bigram_scoring_joins_are_broadcast(spark):
    from cerberus_spark.functions.text import bigram_logprob_scores

    df = spark.createDataFrame(
        [("d1", "a b c"), ("d2", "a c b")], "doc_id string, text string"
    )
    plan = (
        bigram_logprob_scores(df, "text", "doc_id", vocab_size=10, bigram_size=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan

    import pytest

    with pytest.raises(ValueError):
        # lam=1.0 would drop the always-positive unigram term (log(0))
        bigram_logprob_scores(df, "text", "doc_id", lam=1.0)


# ---------------------------------------------------------------------------
# unicode normalization
# ---------------------------------------------------------------------------


def test_normalize_unicode_nfc_and_controls(spark):
    from cerberus_spark.functions.text import normalize_unicode

    decomposed = "caf" + "é"          # NFD é
    composed = "café"                  # NFC é
    rows = [
        (0, decomposed),
        (1, composed),
        (2, "tab\tkeeps\nnewline\rcr\x00null\x1besc\x85nel"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "id int, t string")
    got = {r.id: r.n for r in df.select("id", normalize_unicode("t").alias("n")).collect()}
    assert got[0] == composed == got[1]      # NFD -> NFC, idempotent on NFC
    assert got[2] == "tab\tkeeps\nnewline\rcr" + "null" + "esc" + "nel"
    assert got[3] is None


def test_normalize_unicode_matches_duckdb_nfc(spark):
    """Cross-engine lock: our NFC (sans control-strip) must byte-match
    DuckDB's nfc_normalize on mixed composed/decomposed/ligature text."""
    import duckdb

    from cerberus_spark.functions.text import normalize_unicode

    samples = [
        "éclair",           # decomposed accent
        "éclair",            # composed
        "ẛ̣",           # long s with dot — multi-step composition
        "Å",                # A + ring -> Å
        "ﬁle",               # fi ligature (NFC keeps; NFKC would split)
        "plain ascii",
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(samples)], "id int, t string")
    got = {
        r.id: r.n
        for r in df.select(
            "id", normalize_unicode("t", strip_controls=False).alias("n")
        ).collect()
    }
    con = duckdb.connect()
    for i, s in enumerate(samples):
        want = con.execute("SELECT nfc_normalize(?)", [s]).fetchone()[0]
        assert got[i] == want, (i, s)


def test_normalize_unicode_unifies_dedup_fingerprints(spark):
    """The motivating property: composed and decomposed spellings of
    the SAME text must hash identically after normalization."""
    from cerberus_spark.functions.text import normalize_unicode

    df = spark.createDataFrame(
        [(0, "résumé text"), (1, "résumé text")],
        "id int, t string",
    )
    fps = df.select(F.md5(normalize_unicode("t")).alias("fp")).collect()
    assert fps[0].fp == fps[1].fp
    raw = df.select(F.md5("t").alias("fp")).collect()
    assert raw[0].fp != raw[1].fp  # without normalization they differ


def test_normalize_unicode_bad_form_raises(spark):
    import pytest as _pytest

    from cerberus_spark.functions.text import normalize_unicode

    with _pytest.raises(ValueError):
        normalize_unicode("t", form="NFX")


def test_gopher_filter_report(spark):
    from cerberus_spark.functions.text import gopher_report_arrow

    good = (
        "this is a reasonably long and varied document about the engine "
        "which keeps going with many different words and some structure "
        "so that repetition ratios stay low and the stopword mix is sane "
        "while the total token count clears the minimum threshold easily "
        "because a few extra clauses of ordinary prose push the counter "
        "comfortably past fifty whitespace separated tokens in this text"
    )
    repeats = ("spam " * 80).strip()
    rows = [(0, good), (1, "tiny"), (2, repeats)]
    df = spark.createDataFrame(rows, "id int, t string")
    rep = gopher_report_arrow(df, "t")
    got = {r.id: (r.keep, list(r.reasons)) for r in rep.collect()}
    assert got[0] == (True, [])
    assert got[1][0] is False and "too_short" in got[1][1]
    assert got[2][0] is False
    assert {"dup_words", "top_word_dominates"} <= set(got[2][1])
    # triage shape: reasons explode/aggregate without re-running filters
    counts = rep.select(F.explode("reasons").alias("r")).groupBy("r").count().collect()
    assert {r.r for r in counts} >= {"too_short", "dup_words"}


def _py_ngram_millis(text: str, k: int):
    import math
    import re as _re

    norm = _re.sub(r"\s+", " ", text.lower()).strip()
    words = norm.split(" ") if norm else []
    if len(words) < k:
        return None, None
    grams = [" ".join(words[i : i + k]) for i in range(len(words) - k + 1)]
    total = len(" ".join(words))
    from collections import Counter

    c = Counter(grams)
    top_cnt = max(c.values())
    top_len = max(len(g) for g, n in c.items() if n == top_cnt)
    top = math.floor(1000 * top_cnt * top_len / total)
    dup = math.floor(
        1000 * sum(n * len(g) for g, n in c.items() if n > 1) / total
    )
    return top, dup


def test_ngram_char_millis_match_python_twin(spark):
    from cerberus_spark.functions.text import repetition_metrics

    texts = [
        "the cat sat on the mat the cat sat on the rug",   # repeated 3-grams
        "a b a b a b a b a b",                              # heavy repetition
        "all words here are completely distinct tokens",    # no dup 3-grams
        "one two",                                          # < k words -> NULL
        "x " * 50,                                          # one gram repeated
        "Mixed   CASE \t and   spacing  mixed case and spacing",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, t string")
    got = {
        r.id: (r.top_3gram_char_milli, r.dup_3gram_char_milli)
        for r in repetition_metrics(df, "t", "id", char_ks=(3,)).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _py_ngram_millis(t, 3), (i, t, got[i], _py_ngram_millis(t, 3))


def test_ngram_char_millis_hand_checked(spark):
    from cerberus_spark.functions.text import repetition_metrics

    # "a b a b a b": 2-grams = [a b, b a, a b, b a, a b]; top = "a b" x3
    # (len 3); total chars = len("a b a b a b") = 11
    # top = floor(1000*9/11) = 818; dup = (3+2)*3 = 15 chars -> floor(15000/11) = 1363
    df = spark.createDataFrame([(0, "a b a b a b")], "id long, t string")
    r = repetition_metrics(df, "t", "id", char_ks=(2,)).collect()[0]
    assert r.top_2gram_char_milli == 818
    assert r.dup_2gram_char_milli == 1363


def test_gopher_gate_ngram_char_rules(spark):
    """Enabling the character-coverage n-gram caps adds the
    corresponding reasons; defaults leave the gate unchanged."""
    from cerberus_spark.functions.text import gopher_report_arrow

    # 60 tokens, one 3-gram repeated 20x -> massive 3-gram char coverage
    spam = "the cat sat " * 20
    df = spark.createDataFrame([(spam,)], "t string")
    base = gopher_report_arrow(df, "t").collect()[0]
    gated = gopher_report_arrow(
        df, "t", max_top_ngram_char_milli={3: 180}, max_dup_ngram_char_milli={5: 150}
    ).collect()[0]
    assert "top_3gram_chars" not in base.reasons
    assert "top_3gram_chars" in gated.reasons
    assert "dup_5gram_chars" in gated.reasons


#: empty, blank, NULL, one word and two words, then repeated and
#: mixed-case text; every engine must agree on each
REPETITION_EDGE_DOCS = [
    (0, ""),
    (1, " \t "),
    (2, None),
    (3, "one"),
    (4, "a b"),
    (5, "the cat sat on the mat the cat sat"),
    (6, ("spam ham " * 40).strip()),
    (7, "Mixed   CASE \t and   spacing  mixed case and spacing"),
]


@pytest.mark.parametrize("name", ["doc_repetition", "ngram_repetition", "gopher_gate"])
def test_repetition_pair_edge_parity(spark, contract_pair, name):
    """The Arrow repetition scan and gate agree with their DuckDB
    oracles on the edge rows, and each engine keeps the NULL-text
    document: NULL metrics, and a gate that keeps it."""
    docs = spark.createDataFrame(REPETITION_EDGE_DOCS, "doc_id long, text string")
    got, want = contract_pair(name, "documents", docs)
    assert got == want, (got, want)
    assert [r[0] for r in got] == [d for d, _ in REPETITION_EDGE_DOCS]
    null_row = {"doc_repetition": (2, None, None, None),
                "ngram_repetition": (2, None, None),
                "gopher_gate": (2, True, "")}[name]
    assert null_row in got


def test_gopher_gate_pair_keeps_and_drops_at_sf001():
    """The gopher_gate pair's thresholds keep some sf0.01 documents and
    drop others, so the contract compares both the keep and the drop
    path (the default gate drops all 500)."""
    import os

    import duckdb

    import __spark_entry__ as entry
    from bench import SF_DIR

    docs = os.path.join(os.path.dirname(SF_DIR), "sf0.01", "documents.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs}'")
    sql = f"SELECT DISTINCT keep FROM ({entry.oracle_sql()['gopher_gate']})"
    assert {k for (k,) in con.execute(sql).fetchall()} == {True, False}
