"""Unit tests for text-quality operators (hand-built inputs, known answers)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from autoscan_spark.operators.textstats import gopher_quality


def _df(spark, texts):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )


GOOD = (
    "the quick brown fox jumps over the lazy dog and then runs off "
    "with the bone that it found to have near the fence"
)


def test_gopher_quality_good_doc_passes(spark):
    out = gopher_quality(_df(spark, [GOOD]), min_words=5).collect()[0]
    assert out["gopher_ok"] is True
    assert out["stop_hits"] >= 2
    assert out["symbol_ratio"] == 0.0
    assert out["alpha_word_frac"] == 1.0


@pytest.mark.parametrize(
    "mutate, failing_signal",
    [
        (lambda t: "one two", "n_words"),                      # below min_words
        (lambda t: t + " " + "#" * 40, "symbol_ratio"),        # symbol spam
        (lambda t: "- " + t.replace(" ", "\n- "), "bullet_line_frac"),
        (lambda t: t.replace(" ", "...\n")[:-1] + "...", "ellipsis_line_frac"),
        (lambda t: t + " " + " ".join(["123"] * 60), "alpha_word_frac"),
        (lambda t: t.replace("the", "zz").replace("that", "zz")
                    .replace("to", "zz").replace("have", "zz")
                    .replace("and", "zz").replace("with", "zz"), "stop_hits"),
        (lambda t: " ".join(["a"] * 60), "mean_word_len"),     # mean len < 3
    ],
)
def test_gopher_quality_each_rule_gates(spark, mutate, failing_signal):
    bad = mutate(GOOD)
    row = gopher_quality(_df(spark, [bad]), min_words=5).collect()[0]
    assert row["gopher_ok"] is False, f"{failing_signal}: {dict(row.asDict())}"


def test_gopher_quality_signal_values_exact(spark):
    # 2 lines: a bullet line and an ellipsis-terminated line; one '#'; the
    # unicode ellipsis counts as a symbol and a line terminator.
    text = "- the cat and the hat with a #\nsome words that trail off…"
    row = gopher_quality(_df(spark, [text]), min_words=5).collect()[0]
    n_words = row["n_words"]
    assert n_words == 14
    assert row["bullet_line_frac"] == 0.5
    assert row["ellipsis_line_frac"] == 0.5
    # '#' once + unicode ellipsis once = 2 symbols over 14 words
    assert row["symbol_ratio"] == pytest.approx(2 / 14)
    assert row["stop_hits"] == 4  # the, and, with, that


def test_gopher_quality_shares_words_projection(spark):
    # words_col reuse path: identical results with a pre-projected split
    from autoscan_spark.operators.sqlutil import with_words

    df = _df(spark, [GOOD, "zz " * 30])
    a = gopher_quality(df, min_words=5).select("doc_id", "gopher_ok")
    pre = with_words(df, "text", "__w")
    b = gopher_quality(pre, words_col="__w", min_words=5).select(
        "doc_id", "gopher_ok"
    )
    assert a.collect() == b.collect()


def test_split_words_tokens(spark):
    """The one word splitter every text operator tokenizes through: trim
    spaces, split on whitespace runs (tabs and newlines too), lowercase
    unless ``lower=False``. ``trim`` strips only spaces, so a leading tab
    leaves an empty first word; empty text is one empty word."""
    from autoscan_spark.operators.sqlutil import qident, split_words, with_words

    df = _df(spark, ["  Hello\tWORLD \n\n foo  ", "", "   ", "\tMiXeD case", None])
    rows = (
        with_words(df, "text", "__w")
        .select(
            "doc_id",
            "__w",
            F.expr(split_words(qident("text"))).alias("lower"),
            F.expr(split_words(qident("text"), lower=False)).alias("keep"),
        )
        .orderBy("doc_id")
        .collect()
    )
    assert [r["lower"] for r in rows] == [
        ["hello", "world", "foo"],
        [""],
        [""],
        ["", "mixed", "case"],
        None,
    ]
    assert [r["keep"] for r in rows] == [
        ["Hello", "WORLD", "foo"],
        [""],
        [""],
        ["", "MiXeD", "case"],
        None,
    ]
    assert [r["__w"] for r in rows] == [r["lower"] for r in rows]


def test_unigram_familiarity_exact(spark):
    from autoscan_spark.operators.textstats import unigram_familiarity

    # counts: a=2, b=2, c=1, total=5
    out = {r["doc_id"]: r for r in
           unigram_familiarity(_df(spark, ["a a b", "b c"])).collect()}
    assert (out[0]["n_words"], out[0]["sum_counts"]) == (3, 6)
    assert out[0]["familiarity"] == (6 / 3) / 5  # two-step division (overflow-safe)
    assert (out[1]["n_words"], out[1]["sum_counts"]) == (2, 3)
    assert out[1]["familiarity"] == (3 / 2) / 5
    # partitioning-invariant (integer aggregates, single final division)
    again = {r["doc_id"]: r["familiarity"] for r in
             unigram_familiarity(
                 _df(spark, ["a a b", "b c"]).repartition(5)).collect()}
    assert again == {k: r["familiarity"] for k, r in out.items()}


def test_chunk_documents_windows_and_stride(spark):
    from autoscan_spark.operators.textstats import chunk_documents

    df = _df(spark, ["w0 w1 w2 w3 w4 w5 w6", "solo"])
    out = chunk_documents(df, window_tokens=3, stride=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["chunk_start"], r["n_chunk_tokens"], r["chunk_text"])
        )
    # doc 0: 7 words, starts 0,2,4,6 — final chunk is 1 token
    assert sorted(by_doc[0]) == [
        (0, 0, 3, "w0 w1 w2"),
        (1, 2, 3, "w2 w3 w4"),
        (2, 4, 3, "w4 w5 w6"),
        (3, 6, 1, "w6"),
    ]
    assert by_doc[1] == [(0, 0, 1, "solo")]

    # non-overlapping default: stride = window
    flat = chunk_documents(df, window_tokens=4).collect()
    d0 = sorted((r["chunk_id"], r["chunk_text"]) for r in flat if r["doc_id"] == 0)
    assert d0 == [(0, "w0 w1 w2 w3"), (1, "w4 w5 w6")]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="window_tokens"):
        chunk_documents(df, window_tokens=0)
    with _pytest.raises(ValueError, match="stride"):
        chunk_documents(df, window_tokens=4, stride=0)


def test_chunk_documents_empty_and_null_docs_emit_no_chunks(spark):
    from autoscan_spark.operators.textstats import chunk_documents

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1, 2, 3], "text": ["a b", "", "   ", None]})
    )
    out = chunk_documents(df, window_tokens=2).collect()
    assert {r["doc_id"] for r in out} == {0}  # no phantom empty chunks


def test_bigram_rarity_hand_computed(spark):
    """Tiny corpus with hand-computable bigram counts: 'a b' appears in
    two docs (c12=2, prefix a has 3 bigrams) while 'a c' is unique."""
    import pandas as pd

    from autoscan_spark.operators.textstats import bigram_rarity

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3],
                "text": ["a b", "a b x", "a c", "solo"],
            }
        )
    ).repartition(2)
    out = {r["doc_id"]: r for r in bigram_rarity(docs, rare_threshold=1).collect()}
    # corpus bigrams: (a,b)x2, (b,x)x1, (a,c)x1 ; c1(a)=3, c1(b)=1
    assert 3 not in out  # <2 words: absent
    assert out[0]["n_bigrams"] == 1 and out[0]["n_rare_bigrams"] == 0
    assert out[0]["min_bigram_p"] == 2 / 3
    assert out[1]["n_bigrams"] == 2 and out[1]["n_rare_bigrams"] == 1
    assert out[1]["min_bigram_p"] == 2 / 3  # min(2/3 for a b, 1/1 for b x)
    assert out[2]["min_bigram_p"] == 1 / 3 and out[2]["n_rare_bigrams"] == 1


def test_span_corruption_reconstruction_and_shape(spark, sf_dir):
    """Masked spans + sentinels must reconstruct the original text
    exactly (the denoising-objective contract); per-block hash placement
    is deterministic; docs under one block emit nothing; zero shuffles."""
    import pandas as pd
    import pytest

    from autoscan_spark.operators.textstats import span_corruption
    from autoscan_spark.sources.tables import load_table

    words = " ".join(f"w{i}" for i in range(45))
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": [words, "too short"]})
    )
    out = span_corruption(df).collect()
    assert len(out) == 1 and out[0]["n_masked"] == 6

    def rebuild(inp: str, tgt: str) -> list[str]:
        spans: dict[str, list[str]] = {}
        cur = None
        for t in tgt.split(" "):
            if t.startswith("<extra_id_"):
                cur = t
                spans[cur] = []
            else:
                spans[cur].append(t)
        flat: list[str] = []
        for t in inp.split(" "):
            if t.startswith("<extra_id_"):
                flat.extend(spans[t])
            else:
                flat.append(t)
        return flat

    assert rebuild(out[0]["input_text"], out[0]["target_text"]) == words.split(" ")

    # corpus scale: every row reconstructs, mask rate is exactly span/group
    # over full blocks, plan has no exchange
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    res = span_corruption(docs)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    rows = res.collect()
    originals = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert rows
    for r in rows:
        want = originals[r["doc_id"]].strip().split()
        assert rebuild(r["input_text"], r["target_text"]) == want
        assert r["n_masked"] == (len(want) // 20) * 3

    with pytest.raises(ValueError, match="span"):
        span_corruption(docs, span=5, group=5)


def test_readability_hand_counts(spark):
    """FK counts against hand-computed values: vowel-group syllables with
    per-word min 1, sentence runs with min 1, and the exact formula."""
    import pandas as pd

    from autoscan_spark.operators.textstats import readability

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    # words: The(1) cat(1) sat(1). It(1) purred(2: u,e) -> 6 syl, 5 words, 2 sentences
                    "The cat sat. It purred!",
                    # no terminal punct -> 1 sentence; "rhythm" has no aeiouy... y! rh-y-thm -> 1 group
                    "rhythm tst",
                    None,
                ],
            }
        )
    )
    out = {r["doc_id"]: r for r in readability(df).collect()}
    assert set(out) == {1, 2}  # NULL doc absent
    r1 = out[1]
    assert r1["n_words"] == 5
    assert r1["n_sentences"] == 2  # '.' and '!' runs
    assert r1["n_syllables"] == 6
    want = 0.39 * (5 / 2) + 11.8 * (6 / 5) - 15.59
    assert abs(r1["fk_grade"] - want) < 1e-12
    r2 = out[2]
    assert r2["n_sentences"] == 1  # clamped min
    assert r2["n_syllables"] == 2  # 'y' group in rhythm; tst clamps to 1
    plan = readability(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_tfidf_top_terms_hand_example(spark):
    from autoscan_spark.operators.textstats import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry durian"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["doc_id"], r["rank"]): r
        for r in tfidf_top_terms(df, k=2).collect()
    }
    # doc 1: apple tf=2 df=1 -> 2_000_000; banana tf=1 df=2 -> 500_000
    assert out[(1, 1)]["term"] == "apple"
    assert out[(1, 1)]["score_ppm"] == 2_000_000
    assert out[(1, 2)]["term"] == "banana"
    assert out[(1, 2)]["score_ppm"] == 500_000
    # doc 3: cherry tf=3 df=2 -> 1_500_000 beats durian tf=1 df=1 -> 1_000_000
    assert out[(3, 1)]["term"] == "cherry"
    assert out[(3, 2)]["term"] == "durian"
    assert all(r["n_docs"] == 3 for r in out.values())


def test_tfidf_tie_breaks_by_term(spark):
    from autoscan_spark.operators.textstats import tfidf_top_terms

    df = spark.createDataFrame([(1, "zeta alpha")], "doc_id long, text string")
    out = sorted(
        (r["rank"], r["term"]) for r in tfidf_top_terms(df, k=2).collect()
    )
    assert out == [(1, "alpha"), (2, "zeta")]


def test_pmi_collocations_planted(spark):
    from collections import Counter

    from autoscan_spark.operators.textstats import pmi_collocations

    # "hong kong" always co-occurs (perfect collocation); "the cat" /
    # "the dog" share the promiscuous "the" (low PMI); filler pads counts
    docs = []
    for i in range(6):
        docs.append((i, "visit hong kong the cat saw the dog and the cat"))
    for i in range(6, 12):
        docs.append((i, "hong kong is far the dog saw the cat by the dog"))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = pmi_collocations(df, min_count=5, top_k=30).collect()

    # python replay of the exact integer formula
    bi = Counter()
    for _, text in docs:
        ws = text.lower().split()
        bi.update(zip(ws, ws[1:]))
    nb = sum(bi.values())
    c1, c2 = Counter(), Counter()
    for (a, b), n in bi.items():
        c1[a] += n
        c2[b] += n
    want = sorted(
        (
            (a, b, n, (1_000_000 * n * nb) // (c1[a] * c2[b]))
            for (a, b), n in bi.items()
            if n >= 5
        ),
        key=lambda r: (-r[3], r[0], r[1]),
    )[:30]
    got = [(r["w1"], r["w2"], r["n_xy"], r["pmi_ppm"]) for r in rows]
    assert got == want
    # perfect collocations must outrank the stopword-glued "the X" pairs
    # (PMI also rewards rarity, so the rarer perfect pair "is far" may
    # legitimately outrank the more frequent "hong kong")
    hk = next(p for a, b, _, p in got if (a, b) == ("hong", "kong"))
    the_pairs = [p for a, b, _, p in got if a == "the"]
    assert the_pairs and all(p < hk for p in the_pairs)


def test_lexicon_hits_counts_and_flag(spark):
    from autoscan_spark.operators.textstats import lexicon_hits

    df = spark.createDataFrame(
        [(1, "bad word good word bad"), (2, "all clean words here")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_tokens, r.n_hits, r.hit_ppm, r.lexicon_ok)
           for r in lexicon_hits(df, ["bad"], max_hit_ppm=100_000).collect()}
    assert got[1] == (5, 2, 400000, False)
    assert got[2] == (4, 0, 0, True)


def test_lexicon_hits_empty_lexicon_rejected(spark):
    import pytest as _pytest

    from autoscan_spark.operators.textstats import lexicon_hits

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        lexicon_hits(df, [])


def test_lexicon_hits_ansi_overflow_guard(spark):
    """1e6 * hits must not overflow INT for >= 2148 hits (ANSI mode)."""
    from autoscan_spark.operators.textstats import lexicon_hits

    text = " ".join(["bad"] * 3000)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    row = lexicon_hits(df, ["bad"]).collect()[0]
    assert (row.n_hits, row.hit_ppm) == (3000, 1000000)


def test_tokenizer_fertility_exact_division(spark):
    from autoscan_spark.operators.textstats import tokenizer_fertility

    df = spark.createDataFrame(
        [(1, "don't stop", "en"), (2, "plain words", "de")],
        "doc_id long, text string, lang string",
    )
    got = {r.lang: (r.n_docs, r.sum_ws_tokens, r.sum_bpe_tokens, r.fertility_ppm)
           for r in tokenizer_fertility(df).collect()}
    # "don't stop" -> ws 2, bpe 4 (don,',t,stop); "plain words" -> 2,2
    assert got["en"] == (1, 2, 4, 2000000)
    assert got["de"] == (1, 2, 2, 1000000)


def test_oov_rate_vocab_determinism(spark):
    from autoscan_spark.operators.textstats import oov_rate

    # freqs: a=3, b=2, c=2, z=1 -> vocab_size=2 keeps {a, b} (tie c loses to b)
    df = spark.createDataFrame(
        [(1, "a a b c"), (2, "a b c z")], "doc_id long, text string"
    )
    got = {r.doc_id: (r.n_tokens, r.n_oov, r.oov_ppm)
           for r in oov_rate(df, vocab_size=2).collect()}
    assert got[1] == (4, 1, 250000)
    assert got[2] == (4, 2, 500000)


def test_length_percentile_filter_band(spark):
    from autoscan_spark.operators.textstats import length_percentile_filter

    rows = [(i, "en", float(i)) for i in range(1, 101)]  # n_chars 1..100
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars double")
    out = {r.doc_id: r.len_ok
           for r in length_percentile_filter(df, lo=0.05, hi=0.95).collect()}
    # percentile(1..100, .05) = 5.95, (.95) = 95.05 -> keep 6..95
    assert not out[1] and not out[5] and out[6]
    assert out[95] and not out[96] and not out[100]


def test_ngram_commonness_values(spark):
    from autoscan_spark.operators.textstats import ngram_commonness

    shared = "alpha beta gamma delta"
    df = spark.createDataFrame(
        [(i, shared) for i in range(1, 5)] + [(5, "unique words only here five")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_grams, r.n_common, r.common_ppm)
           for r in ngram_commonness(df, n=3, common_docs=3).collect()}
    # docs 1-4 share both 3-grams (df=4 >= common_docs+1); doc 5 none
    assert got[1] == (2, 2, 1000000)
    assert got[5] == (3, 0, 0)


def test_cms_no_false_negatives_and_exactness_at_width(spark):
    """CMS guarantees: estimate >= true always; with width >> vocab the
    estimate is exact (no collisions to inflate it)."""
    from autoscan_spark.operators.sketch import cms_heavy_hitters, cms_sketch, cms_estimate

    docs = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "a b d")], "doc_id long, text string"
    )
    true = {"a": 4, "b": 3, "c": 1, "d": 1}
    sketch = cms_sketch(docs, width=4096, depth=4)
    cands = spark.createDataFrame([(w,) for w in true], "word string")
    est = {r.word: r.est_count
           for r in cms_estimate(sketch, cands, width=4096, depth=4).collect()}
    assert all(est[w] >= c for w, c in true.items())
    assert est == true  # width 4096 >> 4 words: collision-free, exact
    hh = {r.word for r in cms_heavy_hitters(docs, min_count=3, width=4096, depth=4).collect()}
    assert hh == {"a", "b"}


def test_cms_md5_hash_path(spark):
    """The engine-replayable md5 coordinates: same CMS guarantees, and the
    bucket derivation matches a hand-computed md5 (what the DuckDB oracle
    replays)."""
    import hashlib

    from autoscan_spark.operators.sketch import cms_heavy_hitters, cms_sketch

    docs = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "a b d")], "doc_id long, text string"
    )
    width, depth = 4096, 4
    hh = {
        r.word: r.est_count
        for r in cms_heavy_hitters(
            docs, min_count=3, width=width, depth=depth
        ).collect()
    }
    assert hh == {"a": 4, "b": 3}  # collision-free width: exact
    # bucket derivation is EXACTLY the cross-engine idiom: first 8 md5 hex
    # digits of "d:word" as an integer, mod width
    sk = {(r.d, r.bucket): r.cnt
          for r in cms_sketch(docs, width=width, depth=depth).collect()}
    for d in range(depth):
        b = int(hashlib.md5(f"{d}:a".encode()).hexdigest()[:8], 16) % width
        assert sk[(d, b)] == 4


def test_cms_sketch_size_bounded(spark):
    from autoscan_spark.operators.sketch import cms_sketch

    docs = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2}") for i in range(200)],
        "doc_id long, text string",
    )
    width, depth = 32, 3
    sk = cms_sketch(docs, width=width, depth=depth).collect()
    assert len(sk) <= width * depth
    assert {r.d for r in sk} == {0, 1, 2}
    assert all(0 <= r.bucket < width for r in sk)
    # linear sketch: total counters per row == total token count
    from collections import Counter
    per_row = Counter()
    for r in sk:
        per_row[r.d] += r.cnt
    assert len(set(per_row.values())) == 1  # every row sums to N


def test_ccnet_buckets_tiers(spark):
    from autoscan_spark.operators.textstats import ccnet_buckets

    # 6 docs, one lang; familiarity is monotone in how "stock" the words
    # are: docs made of the corpus-dominant word score highest
    rows = [(1, "en", "x x x x"), (2, "en", "x x x y"), (3, "en", "x x y z"),
            (4, "en", "x y z q"), (5, "en", "y z q r"), (6, "en", "z q r s")]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r.doc_id: r.bucket for r in ccnet_buckets(df).collect()}
    assert got[1] == "head" and got[6] == "tail"
    assert set(got.values()) == {"head", "middle", "tail"}
    # tiers are ordered: every head doc scores >= every middle >= every tail
    fam = {r.doc_id: r.familiarity for r in ccnet_buckets(df).collect()}
    hs = [fam[d] for d, b in got.items() if b == "head"]
    ms = [fam[d] for d, b in got.items() if b == "middle"]
    ts = [fam[d] for d, b in got.items() if b == "tail"]
    assert min(hs) >= max(ms) >= max(ts)


def test_code_prose_stats_line_heuristics(spark):
    """Each code-line rule fires (indent, ;/{/} terminator, keyword
    start); prose lines don't; ppm is exact integer division; empty
    lines are excluded from the denominator."""
    from autoscan_spark.operators.textstats import code_prose_stats

    rows = [
        # 4 non-empty lines: indent / terminator / keyword / prose
        (1, "    x = 1\nfoo();\nimport os\nplain prose here\n\n"),
        (2, "just prose\nmore prose"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_lines, r.n_code_lines, r.code_ppm, r.is_code)
        for r in code_prose_stats(df).collect()
    }
    assert got[1] == (4, 3, 750000, True)
    assert got[2] == (2, 0, 0, False)
    assert got[3] == (0, 0, 0, False)  # guarded division, no crash


def test_encoding_quality_counts(spark):
    """U+FFFD and C0 controls (minus tab/newline/CR) are counted exactly;
    tab/newline/CR are NOT flagged; the gate uses integer ppm."""
    from autoscan_spark.operators.textstats import encoding_quality

    rows = [
        (1, "clean text\twith tab\nand newline\r"),
        (2, "bad �� here \x07\x01"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_chars, r.n_replacement, r.n_control, r.bad_ppm,
                   r.encoding_ok)
        for r in encoding_quality(df).collect()
    }
    assert got[1] == (32, 0, 0, 0, True)
    n2 = len("bad �� here \x07\x01")
    assert got[2] == (n2, 2, 2, 4000000 // n2, False)
    assert got[3] == (0, 0, 0, 0, True)


def test_word_entropy_exact_values(spark):
    import math

    from autoscan_spark.operators.textstats import word_entropy

    rows = [
        (1, "a a a a"),            # one word -> entropy 0
        (2, "a b c d"),            # uniform over 4 -> 2 bits
        (3, "a a b b b c"),        # mixed: -(2/6 lg 2/6 + 3/6 lg 3/6 + 1/6 lg 1/6)
        (4, "  A  a\tB "),         # lower + \s+ split: {a:2, b:1}
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = {r["doc_id"]: r for r in word_entropy(df).collect()}
    assert out[1]["entropy_bits"] == 0.0
    assert out[1]["n_words"] == 4 and out[1]["n_distinct"] == 1
    assert out[2]["entropy_bits"] == 2.0
    expect3 = -(
        2 / 6 * math.log2(2 / 6)
        + 3 / 6 * math.log2(3 / 6)
        + 1 / 6 * math.log2(1 / 6)
    )
    assert abs(out[3]["entropy_bits"] - round(expect3, 6)) < 1e-9
    assert out[4]["n_words"] == 3 and out[4]["n_distinct"] == 2


def test_hll_estimate_accuracy_and_merge(spark):
    """HLL: estimate within sketch error of exact; registers are
    max-mergeable across shards (the linear-sketch property)."""
    import pyspark.sql.functions as F

    from autoscan_spark.operators.sketch import hll_distinct, hll_registers

    # 2000 distinct words across rows (well past 2.5*m=640 so the
    # harmonic branch fires)
    rows = [(i, " ".join(f"w{j}" for j in range(i * 40, i * 40 + 40)))
            for i in range(50)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(4)
    est = hll_distinct(docs).collect()[0]
    exact = 2000
    assert est["m"] == 256
    assert est["n_registers"] + est["n_zero"] == 256
    # 1.04/sqrt(256) ~ 6.5% standard error; allow 4 sigma
    assert abs(est["est_distinct"] - exact) / exact < 0.26

    # shard-merge: max over per-shard registers == whole-corpus registers
    a = docs.filter("doc_id < 25")
    b = docs.filter("doc_id >= 25")
    whole = {r["j"]: r["rho"] for r in hll_registers(docs).collect()}
    merged = {}
    for shard in (a, b):
        for r in hll_registers(shard).collect():
            merged[r["j"]] = max(merged.get(r["j"], 0), r["rho"])
    assert merged == whole


def test_bloom_contamination_supersets_exact(spark):
    """Bloom decontamination never misses a truly-contaminated gram;
    ppm arithmetic and the distinct-gram counting are pinned."""
    from autoscan_spark.operators.sketch import bloom_contamination

    bench_text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        # contains the benchmark 8-gram verbatim
        (1, "x y " + bench_text + " z"),
        # clean doc, 9 words -> 2 distinct 8-grams
        (2, "one two three four five six seven eight nine"),
        # repeated window: gram dedup keeps counting distinct
        (3, (bench_text + " ") * 2),
        # too short for any 8-gram -> no row
        (4, "too short"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(2)
    bench = spark.createDataFrame([(bench_text,)], ["text"])
    out = {r["doc_id"]: r for r in bloom_contamination(docs, bench).collect()}
    assert out[1]["contaminated"] and out[1]["n_flagged"] >= 1
    assert out[1]["n_grams"] == 4  # 11 words -> 4 distinct 8-gram windows
    assert out[3]["contaminated"]
    assert 4 not in out
    # the bench set has exactly ONE 8-gram; with 2^18 bits and 4 probes a
    # false positive on doc 2's two grams is ~(4/2^18)^4 — assert clean
    assert not out[2]["contaminated"] and out[2]["flagged_ppm"] == 0
    assert out[2]["n_grams"] == 2


def test_bloom_empty_benchmark_flags_nothing(spark):
    from autoscan_spark.operators.sketch import bloom_contamination

    docs = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine")],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([("too few words",)], ["text"])
    out = bloom_contamination(docs, bench).collect()
    assert len(out) == 1
    assert out[0]["n_flagged"] == 0 and not out[0]["contaminated"]
