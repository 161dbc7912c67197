"""Property-based cross-checks of Spark operators against independent
references (pandas merge_asof, collections.Counter) — randomized
inputs, exact-equality oracles."""

from collections import Counter

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

# every test here is a hypothesis fuzz TWIN of coverage that also
# exists as unit tests + the DuckDB oracle gate — the heaviest block
# of the suite (8 examples x several Spark jobs each), so it runs in
# the slow tier (FS_FULL_TESTS=1; see tests/conftest.py)
pytestmark = pytest.mark.slow

from featurestore_spark.operators.curation import repetition_metrics
from featurestore_spark.operators.temporal import asof_join

SPARK_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_keys = st.sampled_from(["A", "B", "C"])
_ts_us = st.integers(min_value=0, max_value=3_600_000_000)

left_rows = st.lists(
    st.tuples(_keys, _ts_us), min_size=1, max_size=25, unique=True
)
right_rows = st.lists(
    st.tuples(_keys, _ts_us, st.integers(-100, 100)),
    min_size=0,
    max_size=25,
    unique_by=lambda r: (r[0], r[1]),  # unique (key, ts): asof precondition
)


def _asof_frames(spark, lrows, rrows):
    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lrows)], ["k", "ts_us", "lid"]
    ).select("k", F.timestamp_micros("ts_us").alias("ts"), "lid")
    right = spark.createDataFrame(
        rrows or [("Z", 0, 0)], ["k", "ts_us", "val"]
    ).select("k", F.timestamp_micros("ts_us").alias("ts"), "val")
    if not rrows:
        right = right.where(F.lit(False))
    return left, right


def _pandas_asof(lrows, rrows, tolerance_us=None):
    lp = pd.DataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lrows)],
        columns=["k", "ts_us", "lid"],
    ).sort_values(["ts_us", "lid"], kind="mergesort")
    rp = pd.DataFrame(rrows, columns=["k", "ts_us", "val"]).sort_values(
        "ts_us", kind="mergesort"
    )
    if rp.empty:
        return {int(i): None for _, (_, _, i) in lp.iterrows()}
    kwargs = {}
    if tolerance_us is not None:
        kwargs["tolerance"] = tolerance_us
    m = pd.merge_asof(
        lp, rp, on="ts_us", by="k", direction="backward",
        allow_exact_matches=True, **kwargs,
    )
    return {
        int(r.lid): (None if pd.isna(r.val) else int(r.val))
        for r in m.itertuples()
    }


@settings(**SPARK_SETTINGS)
@given(left_rows, right_rows)
def test_asof_join_matches_pandas_merge_asof(spark, lrows, rrows):
    left, right = _asof_frames(spark, lrows, rrows)
    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        right_cols=["val"], prefix="r_",
    )
    got = {r["lid"]: r["r_val"] for r in out.collect()}
    assert got == _pandas_asof(lrows, rrows)


@settings(**SPARK_SETTINGS)
@given(left_rows, right_rows, st.integers(0, 1_800_000_000))
def test_asof_join_tolerance_matches_pandas(spark, lrows, rrows, tol):
    left, right = _asof_frames(spark, lrows, rrows)
    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        right_cols=["val"], prefix="r_", tolerance_us=tol,
    )
    got = {r["lid"]: r["r_val"] for r in out.collect()}
    assert got == _pandas_asof(lrows, rrows, tolerance_us=tol)


doc_tokens = st.lists(st.sampled_from(["a", "b", "c"]), max_size=10)


def _rep_reference(tokens, n=2):
    grams = (
        [" ".join(tokens[i : i + n]) for i in range(len(tokens) - n + 1)]
        if len(tokens) >= n
        else []
    )
    c = Counter(grams)
    total = sum(c.values())
    return {
        "n_ngrams": total,
        "top_ngram_count": max(c.values()) if c else 0,
        "dup_ngram_count": sum(v for v in c.values() if v > 1),
    }


@settings(**SPARK_SETTINGS)
@given(st.lists(doc_tokens, min_size=1, max_size=12))
def test_repetition_metrics_match_counter(spark, docs_tokens):
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r.asDict() for r in repetition_metrics(df, n=2).collect()}
    for i, toks in enumerate(docs_tokens):
        want = _rep_reference(toks)
        for field, expect in want.items():
            assert out[i][field] == expect, (i, field, toks)


# -- exact-dup collapse: property equality vs the raw formulation ------------

# Small text alphabet so random corpora contain many exact duplicates
# (the regime the collapse machinery targets) AND near-dups (shared
# words). Non-trivial token counts keep shingling meaningful.
_words = st.sampled_from(["alpha", "beta", "gamma", "delta"])
_texts = st.lists(_words, min_size=3, max_size=6).map(" ".join)
corpus_rows = st.lists(_texts, min_size=2, max_size=18)


@given(corpus_rows)
@settings(**SPARK_SETTINGS)
def test_collapse_pair_set_equals_raw_property(spark, texts):
    """minhash_candidate_pairs(collapse_exact=True) == raw pair set on
    random duplicate-heavy corpora (no bucket cap binding)."""
    from featurestore_spark.operators.dedup import minhash_candidate_pairs

    d = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    raw = {
        (r["a_id"], r["b_id"])
        for r in minhash_candidate_pairs(d, k=8, bands=4).collect()
    }
    collapsed = {
        (r["a_id"], r["b_id"])
        for r in minhash_candidate_pairs(
            d, k=8, bands=4, collapse_exact=True
        ).collect()
    }
    assert collapsed == raw


@given(corpus_rows)
@settings(**SPARK_SETTINGS)
def test_dedup_keep_docs_equals_raw_property(spark, texts):
    """dedup_keep_docs keep-set == raw LSH->verify->drop pipeline on
    random duplicate-heavy corpora (no bucket cap binding)."""
    from featurestore_spark.operators.dedup import (
        dedup_keep_docs,
        jaccard_pairs,
        minhash_candidate_pairs,
    )

    d = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    cand = minhash_candidate_pairs(d, k=8, bands=4)
    dups = jaccard_pairs(d, cand).where(F.col("jaccard") >= 0.8)
    raw_drop = {r["b_id"] for r in dups.select("b_id").distinct().collect()}
    raw_keep = set(range(len(texts))) - raw_drop
    got = {
        r["doc_id"]
        for r in dedup_keep_docs(d, k=8, bands=4).select("doc_id").collect()
    }
    assert got == raw_keep


# -- line-level dedup vs a pure-Python reference ------------------------------

_words = st.sampled_from(["aa", "bb", "cc", "dd"])
_line = st.lists(_words, min_size=0, max_size=3).map(" ".join)
_doc = st.lists(_line, min_size=1, max_size=5).map("\n".join)
_docs = st.lists(_doc, min_size=1, max_size=10)


def _py_dedup_lines(texts, max_docs):
    """Independent reference: normalized line -> distinct-doc count;
    drop non-empty lines with count > max_docs; rejoin in order."""
    freq = Counter()
    for t in texts:
        for ln in {ln.strip().lower() for ln in t.split("\n")}:
            if ln:
                freq[ln] += 1
    out = []
    for t in texts:
        lines = t.split("\n")
        kept = [
            ln for ln in lines
            if not ln.strip().lower() or freq[ln.strip().lower()] <= max_docs
        ]
        out.append(("\n".join(kept), len(lines), len(kept)))
    return out


@given(_docs, st.integers(1, 3))
@settings(**SPARK_SETTINGS)
def test_dedup_lines_matches_python_reference(spark, texts, max_docs):
    from featurestore_spark.operators.curation import dedup_lines

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["text"], r["n_lines"], r["n_lines_kept"])
        for r in dedup_lines(df, max_docs=max_docs).collect()
    }
    expect = dict(enumerate(_py_dedup_lines(texts, max_docs)))
    assert got == expect


# -- shared-span removal vs a pure-Python reference ---------------------------

_span_doc = st.lists(
    st.sampled_from(["x1", "x2", "x3", "x4", "y1", "y2"]),
    min_size=0,
    max_size=12,
).map(" ".join)


def _py_shared_spans(texts, n, min_df):
    import re

    grams = []  # per doc: list of (pos, gram)
    df_count = Counter()
    for t in texts:
        # mirror Spark/DuckDB: split(trim(lower(text)), '\s+') yields
        # [''] for the empty string (one empty token), unlike str.split()
        toks = re.split(r"\s+", t.strip().lower())
        g = [
            (i, " ".join(toks[i : i + n]))
            for i in range(max(0, len(toks) - n + 1))
        ] if len(toks) >= n else []
        grams.append((toks, g))
        for gram in {x[1] for x in g}:
            df_count[gram] += 1
    out = []
    for toks, g in grams:
        starts = sorted(i for i, gram in g if df_count[gram] >= min_df)
        ivs = []
        for s in starts:
            if ivs and s <= ivs[-1][1]:
                ivs[-1][1] = max(ivs[-1][1], s + n)
            else:
                ivs.append([s, s + n])
        covered = set()
        for s, e in ivs:
            covered.update(range(s, e))
        kept = [t for i, t in enumerate(toks) if i not in covered]
        out.append(
            (
                " ".join(kept),
                len(toks),
                sum(e - s for s, e in ivs),
                len(ivs),
            )
        )
    return out


@given(st.lists(_span_doc, min_size=1, max_size=8), st.integers(2, 4))
@settings(**SPARK_SETTINGS)
def test_remove_shared_spans_matches_python_reference(spark, texts, n):
    from featurestore_spark.operators.curation import remove_shared_spans

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {}
    for r in remove_shared_spans(df, n=n, min_df=2).collect():
        # affected docs are re-tokenized; unaffected pass through raw.
        # normalize both to token-joined form for comparison
        got[r["doc_id"]] = (
            " ".join(r["text"].lower().split()),
            r["n_tokens"],
            r["n_tokens_removed"],
            r["n_spans"],
        )
    expect = dict(enumerate(_py_shared_spans(texts, n, 2)))
    assert got == expect


# -- BM25 + bigram LM vs pure-Python references -------------------------------

_search_words = st.sampled_from(["a", "b", "c", "d", "e"])
_search_doc = st.lists(_search_words, min_size=0, max_size=12)
_search_corpus = st.lists(_search_doc, min_size=1, max_size=15)
_search_terms = st.lists(
    st.sampled_from(["a", "b", "c", "zzz"]), min_size=1, max_size=3, unique=True
)


def _bm25_ref(docs, terms, k1=1.2, b=0.75):
    import math

    n = len(docs)
    dls = [len(d) for d in docs]
    avgdl = sum(dls) / n
    df = {t: sum(1 for d in docs if t in d) for t in terms}
    out = {}
    for i, d in enumerate(docs):
        s, matched = 0.0, False
        for t in terms:
            tf = d.count(t)
            if tf == 0:
                continue
            matched = True
            idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dls[i] / avgdl))
        if matched:
            out[i] = s
    return out


@given(docs=_search_corpus, terms=_search_terms)
@settings(**SPARK_SETTINGS)
def test_bm25_matches_reference(spark, docs, terms):
    from featurestore_spark.operators.search import bm25_topk

    frame = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    q = spark.createDataFrame([(0, t) for t in terms], "query_id long, term string")
    got = bm25_topk(frame, q, k=len(docs)).collect()
    ref = _bm25_ref(docs, terms)
    assert {r["doc_id"] for r in got} == set(ref)
    for r in got:
        assert abs(r["score"] - ref[r["doc_id"]]) <= 1.5e-6
    # ranking consistent with (rounded score desc, doc_id)
    expected_order = sorted(ref, key=lambda i: (-round(ref[i], 6), i))
    assert [r["doc_id"] for r in sorted(got, key=lambda r: r["rank"])] == expected_order


@given(docs=_search_corpus)
@settings(**SPARK_SETTINGS)
def test_lm_cross_entropy_matches_reference(spark, docs):
    import math

    from featurestore_spark.operators.search import lm_cross_entropy

    frame = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in lm_cross_entropy(frame).collect()}

    bigrams = Counter(p for d in docs for p in zip(d, d[1:]))
    ctx = Counter()
    for (w1, _), c in bigrams.items():
        ctx[w1] += c
    vocab = len({w for d in docs for w in d})
    for i, d in enumerate(docs):
        pairs = list(zip(d, d[1:]))
        assert got[i]["n_bigrams"] == len(pairs)
        if not pairs:
            assert got[i]["cross_entropy"] is None
            continue
        ref = sum(
            -math.log((bigrams[p] + 1.0) / (ctx[p[0]] + vocab)) for p in pairs
        ) / len(pairs)
        assert abs(got[i]["cross_entropy"] - ref) <= 1.5e-6


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["s1", "s2", "s3"]), _search_doc),
        min_size=1,
        max_size=12,
    )
)
@settings(**SPARK_SETTINGS)
def test_unigram_kl_matches_reference(spark, rows):
    import math

    from featurestore_spark.operators.text import unigram_kl_divergence

    frame = spark.createDataFrame(
        [(i, src, " ".join(d)) for i, (src, d) in enumerate(rows)],
        "doc_id long, source string, text string",
    )
    got = {
        r["source"]: (r["n_tokens"], r["kl_divergence"])
        for r in unigram_kl_divergence(frame, "source").collect()
    }
    corpus = Counter(w for _, d in rows for w in d)
    per_src = {}
    for src, d in rows:
        per_src.setdefault(src, Counter()).update(d)
    vocab, n = len(corpus), sum(corpus.values())
    expected_srcs = {s for s, c in per_src.items() if sum(c.values()) > 0}
    assert set(got) == expected_srcs
    for src in expected_srcs:
        ns = sum(per_src[src].values())
        kl = sum(
            ((per_src[src][w] + 1) / (ns + vocab))
            * math.log(
                ((per_src[src][w] + 1) / (ns + vocab))
                / ((corpus[w] + 1) / (n + vocab))
            )
            for w in corpus
        )
        assert got[src][0] == ns
        assert abs(got[src][1] - kl) <= 1.5e-6


# -- BPE vs a pure-Python reference ------------------------------------------


def _ref_bpe_learn(words, num_merges):
    """Reference Sennrich BPE over the raw word stream (no aggregate)."""
    vocab = Counter(tuple(w) + ("</w>",) for w in words)
    merges = []
    for _ in range(num_merges):
        pairs = Counter()
        for syms, cnt in vocab.items():
            for p in zip(syms, syms[1:]):
                pairs[p] += cnt
        if not pairs:
            break
        top = max(pairs.values())
        best = min(p for p, c in pairs.items() if c == top)
        merges.append(best)
        new_vocab = Counter()
        for syms, cnt in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] += cnt
        vocab = new_vocab
    return merges


_bpe_word = st.text(alphabet="abcd", min_size=1, max_size=6)
_bpe_docs = st.lists(
    st.lists(_bpe_word, min_size=0, max_size=8), min_size=1, max_size=10
)


@given(docs=_bpe_docs, num_merges=st.integers(1, 12))
@settings(**SPARK_SETTINGS)
def test_bpe_learn_and_apply_match_reference(spark, docs, num_merges):
    from featurestore_spark.operators.tokenize import (
        apply_bpe,
        learn_bpe,
        segment_word,
        word_frequencies,
    )

    frame = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)],
        "doc_id long, text string",
    )
    words = [w for d in docs for w in d]
    merges = learn_bpe(word_frequencies(frame), num_merges)
    assert merges == _ref_bpe_learn(words, num_merges)

    out = {r["doc_id"]: r["bpe_tokens"] for r in apply_bpe(frame, merges).collect()}
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    for i, d in enumerate(docs):
        expected = [s for w in d for s in segment_word(w, ranks)]
        assert out[i] == expected
        # round-trip: concatenation restores the words + markers
        assert "".join(out[i]) == "".join(w + "</w>" for w in d)


# -- canonical_url vs an independent urllib-based reimplementation ----------

_label = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789-",
    min_size=1,
    max_size=6,
).filter(lambda s: not s.startswith("-") and not s.endswith("-"))
_pname = st.one_of(
    st.sampled_from(["utm_source", "utm_medium", "gclid", "fbclid"]),
    st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=5),
)
_urls = st.builds(
    lambda scheme, user, labels, dot, port, segs, slashes, params, frag: {
        "scheme": scheme,
        "user": user,
        "host": ".".join(labels) + ("." if dot else ""),
        "port": port,
        "path": "".join("/" + s for s in segs) + "/" * slashes,
        "params": params,
        "frag": frag,
    },
    scheme=st.sampled_from(["http", "https", "HTTP", "HTTPS", ""]),
    user=st.sampled_from(["", "user@", "u:p@ss@"]),
    labels=st.lists(_label, min_size=1, max_size=3),
    dot=st.booleans(),
    port=st.sampled_from(["", "80", "443", "8080"]),
    segs=st.lists(_label, min_size=0, max_size=3),
    slashes=st.integers(0, 2),
    params=st.lists(
        st.tuples(_pname, st.text(alphabet="abc123", max_size=4)),
        max_size=4,
    ),
    frag=st.sampled_from(["", "frag", "a#b"]),
)


def _build_url(u):
    url = ""
    if u["scheme"]:
        url += u["scheme"] + "://" + u["user"]
    # no scheme -> url_parts treats the whole prefix as path unless the
    # authority is scheme-relative; match the operator's documented
    # grammar: schemeless inputs are host-first
    elif u["user"]:
        url += u["user"]
    url += u["host"]
    if u["port"]:
        url += ":" + u["port"]
    url += u["path"]
    if u["params"]:
        url += "?" + "&".join(
            f"{k}={v}" if v else k for k, v in u["params"]
        )
    if u["frag"]:
        url += "#" + u["frag"]
    return url


def _py_canonical(u, default_scheme="http"):
    """Independent reimplementation of the DOCUMENTED canonical_url
    semantics from the component dict (never from the string, so a
    shared parsing bug can't hide)."""
    scheme = (u["scheme"] or default_scheme).lower()
    host = u["host"].lower().rstrip(".")
    port = u["port"]
    if port and not (
        (scheme == "http" and port == "80")
        or (scheme == "https" and port == "443")
    ):
        hostport = f"{host}:{port}"
    else:
        hostport = host
    path = u["path"].rstrip("/") or "/"
    kept = sorted(
        f"{k}={v}" if v else k
        for k, v in u["params"]
        if k and not k.startswith("utm_")
        and k not in ("gclid", "fbclid", "msclkid", "igshid", "mc_eid")
    )
    query = "?" + "&".join(kept) if kept else ""
    return f"{scheme}://{hostport}{path}{query}"


@given(us=st.lists(_urls, min_size=1, max_size=30))
@settings(**SPARK_SETTINGS)
def test_canonical_url_matches_independent_reimplementation(spark, us):
    from featurestore_spark.operators.web import canonical_url

    rows = [(i, _build_url(u)) for i, u in enumerate(us)]
    df = spark.createDataFrame(rows, "i long, url string")
    got = {
        r["i"]: r["c"]
        for r in df.select("i", canonical_url("url").alias("c")).collect()
    }
    for i, u in enumerate(us):
        assert got[i] == _py_canonical(u), (
            f"url={rows[i][1]!r} components={u}"
        )


@given(
    texts=st.lists(
        st.text(alphabet="ab .!\n\t", max_size=40), min_size=1, max_size=12
    )
)
@settings(**SPARK_SETTINGS)
def test_fineweb_signals_match_independent_reimplementation(spark, texts):
    """fineweb_doc_rules' line-aggregate signals vs a direct Python
    computation of the documented definitions (trim/non-empty line
    split, terminal-punct regex, <30-char lines, occurrences-beyond-
    first duplicate char mass over total line chars)."""
    import re as _re

    from featurestore_spark.operators.text import fineweb_doc_rules

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in fineweb_doc_rules(df).collect()}
    for i, t in enumerate(texts):
        # SPACE-trim, not .strip(): Spark's trim() and DuckDB's trim()
        # both trim 0x20 only, so tab-only lines are (non-empty) lines
        lines = [l.strip(" ") for l in (t or "").split("\n")]
        lines = [l for l in lines if l]
        r = got[i]
        assert r["n_lines"] == len(lines)
        if not lines:
            assert r["punct_line_frac"] is None and not r["keep"]
            continue
        punct = sum(1 for l in lines if _re.search(r'[.!?"]$', l))
        short = sum(1 for l in lines if len(l) < 30)
        srt = sorted(lines)
        dup = sum(
            len(srt[j]) for j in range(1, len(srt)) if srt[j] == srt[j - 1]
        )
        total = sum(len(l) for l in lines)

        def r4(x):
            # Spark F.round = BigDecimal HALF_UP over the double's
            # EXACT binary expansion; Python round() is half-even and
            # would flake on exact .5 ties (e.g. 1/32 -> 0.0312)
            from decimal import ROUND_HALF_UP, Decimal

            return float(
                Decimal(x).quantize(Decimal("0.0001"), ROUND_HALF_UP)
            )

        assert r["punct_line_frac"] == r4(punct / len(lines))
        assert r["short_line_frac"] == r4(short / len(lines))
        assert r["dup_line_char_frac"] == r4(dup / total)


# -- registrable_domain vs an independent PSL walk (VERDICT r8 #8) ------------

_psl_labels = st.lists(
    st.sampled_from(["a", "b", "c", "www", "co"]), min_size=1, max_size=3
)
_psl_rule = st.builds(
    lambda kind, labels: kind + ".".join(labels),
    kind=st.sampled_from(["", "", "", "*.", "!"]),
    labels=_psl_labels,
)
_psl_host = st.lists(
    st.sampled_from(["a", "b", "c", "www", "co", "x"]),
    min_size=1,
    max_size=5,
).map(".".join)


def _py_registrable(host, rules):
    """Independent walk of the PSL algorithm (publicsuffix.org/list):
    collect ALL matching rules, exception rules prevail (longest
    exception if several — the spec assumes one), else the rule with
    the most labels wins (a wildcard `*.stem` counts stem+1 labels),
    else the implicit `*` default (last label). The public suffix of
    an exception match is the rule minus its leftmost label. The
    registrable domain is the suffix plus one label, or None if the
    host IS a suffix."""
    if host is None or host == "":
        return None
    labels = host.lower().split(".")
    n = len(labels)

    def tail(k):
        return ".".join(labels[n - k:])

    exc_matches = []
    other_matches = []
    for r in rules:
        r = r.lower()
        if r.startswith("!"):
            body = r[1:]
            k = len(body.split("."))
            if n >= k and tail(k) == body:
                exc_matches.append(k)
        elif r.startswith("*."):
            stem = r[2:]
            k = len(stem.split(".")) + 1
            if n >= k and tail(k - 1) == stem:
                other_matches.append(k)
        else:
            k = len(r.split("."))
            if n >= k and tail(k) == r:
                other_matches.append(k)
    if exc_matches:
        sfx = max(exc_matches) - 1
    elif other_matches:
        sfx = max(other_matches)
    else:
        sfx = 1
    return ".".join(labels[n - sfx - 1:]) if n > sfx else None


@given(
    hosts=st.lists(_psl_host, min_size=1, max_size=25),
    rules=st.lists(_psl_rule, min_size=1, max_size=8),
)
@settings(**SPARK_SETTINGS)
def test_registrable_domain_matches_psl_walk(spark, hosts, rules):
    from featurestore_spark.operators.web import registrable_domain

    df = spark.createDataFrame(
        list(enumerate(hosts)), "i long, h string"
    )
    got = {
        r["i"]: r["d"]
        for r in df.select(
            "i", registrable_domain("h", suffixes=rules).alias("d")
        ).collect()
    }
    for i, h in enumerate(hosts):
        assert got[i] == _py_registrable(h, rules), (
            f"host={h!r} rules={rules}"
        )


# -- ccnet bucket split vs manual token-mass thirds (VERDICT r8 #8) -----------


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["s1", "s2", None]), _search_doc),
        min_size=1,
        max_size=15,
    )
)
@settings(**SPARK_SETTINGS)
def test_ccnet_buckets_match_manual_thirds(spark, rows):
    """ccnet_perplexity_buckets' head/middle/tail split vs a manual
    per-group cumulative token-mass walk. The Counter-based bigram
    scorer is already fuzz-pinned against lm_cross_entropy (above) to
    within 1.5e-6; the BUCKETING layer — per-group histogram walk,
    value-level boundary assignment, NULL group as a real partition,
    unscoreable docs to tail — is what this checks, so the reference
    walks Spark's own rounded scores (boundary ties at the 6th
    decimal would otherwise flake across engines) with independently
    computed token masses and thirds arithmetic."""
    import math

    from featurestore_spark.operators.search import (
        ccnet_perplexity_buckets,
    )

    frame = spark.createDataFrame(
        [(i, g, " ".join(d)) for i, (g, d) in enumerate(rows)],
        "doc_id long, source string, text string",
    )
    got = {r["doc_id"]: r for r in ccnet_perplexity_buckets(frame).collect()}

    # independent token masses + the CE sanity bound
    bigrams = Counter(p for _, d in rows for p in zip(d, d[1:]))
    ctx = Counter()
    for (w1, _), c in bigrams.items():
        ctx[w1] += c
    vocab = len({w for _, d in rows for w in d})
    for i, (g, d) in enumerate(rows):
        assert got[i]["n_tokens"] == len(d)
        pairs = list(zip(d, d[1:]))
        if not pairs:
            assert got[i]["cross_entropy"] is None
            assert got[i]["bucket"] == "tail"
            continue
        ref = sum(
            -math.log((bigrams[p] + 1.0) / (ctx[p[0]] + vocab))
            for p in pairs
        ) / len(pairs)
        assert abs(got[i]["cross_entropy"] - ref) <= 1.5e-6

    # manual thirds per group over (rounded score -> token mass)
    groups = {g for g, _ in rows}
    for g in groups:
        members = [
            i
            for i, (gg, _) in enumerate(rows)
            if gg == g and got[i]["cross_entropy"] is not None
        ]
        mass = {}
        for i in members:
            ce = got[i]["cross_entropy"]
            mass[ce] = mass.get(ce, 0) + len(rows[i][1])
        tot = sum(mass.values())
        cum, bucket_of = 0, {}
        for v in sorted(mass):
            cum += mass[v]
            if 3 * cum <= tot:
                bucket_of[v] = "head"
            elif 3 * cum <= 2 * tot:
                bucket_of[v] = "middle"
            else:
                bucket_of[v] = "tail"
        for i in members:
            assert got[i]["bucket"] == bucket_of[got[i]["cross_entropy"]], (
                f"group={g!r} doc={i} ce={got[i]['cross_entropy']}"
            )


# -- gopher_repetition_rules (both modes) vs a Counter/interval walk ----------
# (VERDICT r9 #5: fuzz the branchy r9 operators against independent
# Python — this evidence class caught r8's only real bug while the
# oracles stayed green.)

def _r4(x):
    """Spark F.round semantics: BigDecimal HALF_UP over the double's
    exact binary expansion (Python round() is half-even)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(x).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def _grt_reference(text, positional):
    """Independent Python computation of all 13 Gopher repetition
    signals: Counter-based unit/gram stats; positional coverage via a
    literal covered-character-position set (the definitionally
    obvious formulation, vs the kernel's interval sweep)."""
    import re as _re

    t = text or ""
    toks = [w for w in _re.split(r"\s+", t.strip().lower()) if w]
    out = {}
    for name, sep in (("line", "\n"), ("para", "\n\n")):
        # Spark's F.trim trims 0x20 ONLY — a paragraph keeps its
        # inner/leading newline (same convention as the fineweb test)
        units = [u.strip(" ") for u in _re.split(sep, t)]
        units = [u for u in units if u]
        c = Counter(units)
        n = sum(c.values())
        dup_n = sum(v - 1 for v in c.values())
        dup_chars = sum((v - 1) * len(u) for u, v in c.items())
        total = sum(v * len(u) for u, v in c.items())
        out[f"dup_{name}_frac"] = _r4(dup_n / n) if n else None
        out[f"dup_{name}_char_frac"] = _r4(dup_chars / total) if total else None
    L = len(" ".join(toks))
    starts = []
    p = 0
    for w in toks:
        starts.append(p)
        p += len(w) + 1
    for nn in range(2, 11):
        grams = [" ".join(toks[i : i + nn]) for i in range(len(toks) - nn + 1)]
        key = (
            f"top_{nn}gram_char_frac" if nn <= 4 else f"dup_{nn}gram_char_frac"
        )
        if not grams:
            out[key] = None
            continue
        c = Counter(grams)
        if not positional:
            if nn <= 4:
                mass = max(v * len(g) for g, v in c.items())
            else:
                mass = sum((v - 1) * len(g) for g, v in c.items())
        else:
            if nn <= 4:
                top = max(c.values())
                targets = {min(g for g, v in c.items() if v == top)}
            else:
                targets = {g for g, v in c.items() if v >= 2}
            covered = set()
            for i, g in enumerate(grams):
                if g in targets:
                    covered.update(range(starts[i], starts[i] + len(g)))
            mass = len(covered)
        out[key] = _r4(mass / L)
    return out


# tiny alphabet + newline injection: heavy gram repetition AND real
# line/paragraph structure
_grt_piece = st.sampled_from(
    ["aa", "bb", "cc", "aa bb", "\n", "\n\n", "aa\naa", "bb cc bb cc"]
)
_grt_text = st.lists(_grt_piece, min_size=0, max_size=18).map(" ".join)


@given(texts=st.lists(_grt_text, min_size=1, max_size=10))
@settings(**SPARK_SETTINGS)
def test_gopher_repetition_matches_reference_both_modes(spark, texts):
    from featurestore_spark.operators.curation import (
        GOPHER_REPETITION_THRESHOLDS,
        gopher_repetition_rules,
    )

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    signal_names = list(GOPHER_REPETITION_THRESHOLDS)
    by_mode = {}
    for positional in (False, True):
        got = {
            r["doc_id"]: r
            for r in gopher_repetition_rules(
                df, positional=positional
            ).collect()
        }
        by_mode[positional] = got
        for i, t in enumerate(texts):
            want = _grt_reference(t, positional)
            for name in signal_names:
                assert got[i][name] == want[name], (
                    f"positional={positional} doc={i} {name} "
                    f"text={t!r}: {got[i][name]} != {want[name]}"
                )
            keep = all(
                want[name] is not None and want[name] <= thr
                for name, thr in GOPHER_REPETITION_THRESHOLDS.items()
            )
            assert got[i]["keep"] == keep, (positional, i, t)
    # the documented ordering: for the TOP grams the occurrence mass
    # count*len IS an upper bound of positional coverage. (For the
    # dup grams the two modes are incomparable — the default counts
    # beyond-first occurrences while the paper covers ALL occurrences
    # of a duplicated gram — which this fuzz originally FALSIFIED
    # when the docs claimed a blanket upper bound.)
    occ, pos = by_mode[False], by_mode[True]
    for i in occ:
        for name in signal_names:
            if name.startswith("top_") and occ[i][name] is not None:
                assert occ[i][name] >= pos[i][name], (i, name)


# -- cap_per_domain vs a Python groupby-head walk (VERDICT r9 #5) -------------

_cap_host = st.sampled_from(
    ["a.example.com", "b.example.com", "c.other.org", "other.org", ""]
)
_cap_rows = st.lists(
    st.tuples(_cap_host, st.one_of(st.none(), st.integers(0, 3))),
    min_size=1,
    max_size=25,
)
_CAP_SUFFIXES = ["com", "org"]


def _py_cap(rows, cap, use_order):
    """Independent keep-set walk: NULL-domain rows bypass the cap;
    within a domain rank by (order desc nulls last, id asc —
    Spark asc = nulls first, irrelevant here: ids are never NULL)."""
    kept = set()
    groups = {}
    for doc_id, host, q in rows:
        dom = _py_registrable(host, _CAP_SUFFIXES) if host else None
        if dom is None:
            kept.add(doc_id)
        else:
            groups.setdefault(dom, []).append((doc_id, q))
    for dom, mem in groups.items():
        if use_order:
            mem.sort(key=lambda x: (x[1] is None, -(x[1] or 0), x[0]))
        else:
            mem.sort(key=lambda x: x[0])
        kept.update(d for d, _ in mem[:cap])
    return kept


@given(rows=_cap_rows, cap=st.integers(1, 3), use_order=st.booleans())
@settings(**SPARK_SETTINGS)
def test_cap_per_domain_matches_python_walk(spark, rows, cap, use_order):
    from featurestore_spark.operators.web import cap_per_domain

    data = [
        (i, f"http://{h}/p" if h else "/p", q)
        for i, (h, q) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "doc_id long, url string, q int")
    out = cap_per_domain(
        df,
        cap,
        order_col="q" if use_order else None,
        suffixes=_CAP_SUFFIXES,
    )
    got = {r["doc_id"] for r in out.collect()}
    want = _py_cap(
        [(i, h, q) for i, (h, q) in enumerate(rows)], cap, use_order
    )
    assert got == want, (rows, cap, use_order)


# -- lid_fit/lid_classify vs an independent Python char-ngram NB --------------


def _py_lid(train, test, n=3, k=1.0):
    """Independent char-ngram multinomial NB (Counter-based): same
    smoothed-default factorization as nb_classify's docstring — score
    = prior + n_grams*base + sum over in-vocab grams of
    m*ln((c+k)/k); rounded HALF_UP at 4dp BEFORE the argmax, ties on
    the label."""
    import math
    import re as _re

    def grams(t):
        s = _re.sub(r"\s+", " ", (t or "").lower()).strip()
        return [s[i : i + n] for i in range(len(s) - n + 1)]

    wc = Counter()
    cs = {}
    for lab, t in train:
        if lab is None:
            continue
        gs = grams(t)
        cs.setdefault(lab, [0, 0])
        cs[lab][0] += 1
        cs[lab][1] += len(gs)
        for g in gs:
            wc[(lab, g)] += 1
    V = len({g for (_, g) in wc})
    ND = sum(v[0] for v in cs.values())
    out = {}
    for i, t in test:
        gm = Counter(grams(t))
        scored = []
        for lab in sorted(cs):
            prior = math.log(cs[lab][0] / ND)
            denom = cs[lab][1] + k * V
            base = math.log(k / denom) if denom > 0 else 0.0
            corr = sum(
                m * math.log((wc[(lab, g)] + k) / k)
                for g, m in gm.items()
                if (lab, g) in wc
            )
            scored.append((lab, _r4(prior + sum(gm.values()) * base + corr)))
        # tie-break toward the ASCENDING label (matching nb_classify);
        # the old [-ord(c)] key preferred the LONGER of two tied labels
        # when one is a strict prefix of the other (ADVICE r10)
        top = max(s for _, s in scored)
        best = min((e for e in scored if e[1] == top), key=lambda x: x[0])
        out[i] = best
    return out


_lid_text = st.lists(
    st.sampled_from(["aba", "bab", "ccc", "ab", " "]), min_size=0, max_size=8
).map("".join)


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["xx", "yy", None]), _lid_text),
        min_size=1,
        max_size=12,
    ).filter(lambda rs: any(lab is not None for lab, _ in rs))
)
@settings(**SPARK_SETTINGS)
def test_lid_classify_matches_python_nb(spark, rows):
    from featurestore_spark.operators.text import lid_classify, lid_fit

    df = spark.createDataFrame(
        [(i, lab, t) for i, (lab, t) in enumerate(rows)],
        "doc_id long, lang string, text string",
    )
    model = lid_fit(df, "lang")
    got = {
        r["doc_id"]: (r["lang_pred"], r["score"])
        for r in lid_classify(df, model).collect()
    }
    want = _py_lid(rows, [(i, t) for i, (lab, t) in enumerate(rows)])
    assert got == want, (rows, got, want)


def _py_quality(rows, k=1.0):
    """Independent Python reimplementation of quality_fit +
    quality_classify (binary NB over word unigrams + adjacent
    bigrams, per-feature log-odds) — deliberately naive dict
    counting, no Spark idioms."""
    import math
    from collections import Counter

    def feats(t):
        toks = [w for w in (t or "").strip().lower().split() if w]
        return toks + [
            f"{toks[i]} {toks[i + 1]}" for i in range(len(toks) - 1)
        ]

    wc = Counter()
    cs = {}
    for _, lab, t in rows:
        if lab is None:
            continue
        fs = feats(t)
        cs.setdefault(lab, [0, 0])
        cs[lab][0] += 1
        cs[lab][1] += len(fs)
        for g in fs:
            wc[(lab, g)] += 1
    V = len({g for (_, g) in wc})
    ND = sum(v[0] for v in cs.values())
    out = {}
    for i, _, t in rows:
        fm = Counter(feats(t))
        td = sum(fm.values())
        s = {}
        for lab in cs:
            prior = math.log(cs[lab][0] / ND)
            denom = cs[lab][1] + k * V
            base = math.log(k / denom) if denom > 0 else 0.0
            corr = sum(
                m * math.log((wc[(lab, g)] + k) / k)
                for g, m in fm.items()
                if (lab, g) in wc
            )
            s[lab] = _r4(prior + td * base + corr)
        out[i] = (_r4((s["hq"] - s["lq"]) / max(td, 1)), td)
    return out


_q_text = st.lists(
    st.sampled_from(["good", "clean", "spam", "junk", "word"]),
    min_size=0,
    max_size=6,
).map(" ".join)


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["hq", "lq", None]), _q_text),
        min_size=2,
        max_size=12,
    ).filter(
        lambda rs: {lab for lab, _ in rs if lab is not None} == {"hq", "lq"}
    )
)
@settings(**SPARK_SETTINGS)
def test_quality_classify_matches_python_nb(spark, rows):
    """quality_fit/quality_classify == an independent Python binary
    NB over word unigrams + bigrams (VERDICT r10 #3's fuzz leg — the
    evidence class that falsified the r9 docs claim)."""
    from featurestore_spark.operators.text import (
        quality_classify,
        quality_fit,
    )

    df = spark.createDataFrame(
        [(i, lab, t) for i, (lab, t) in enumerate(rows)],
        "doc_id long, label string, text string",
    )
    model = quality_fit(df, "label")
    got = {
        r["doc_id"]: (r["quality_score"], r["n_features"])
        for r in quality_classify(df, model).collect()
    }
    want = _py_quality([(i, lab, t) for i, (lab, t) in enumerate(rows)])
    assert got == want, (rows, got, want)


# -- domain_pagerank vs an independent Python power iteration -----------------


def _py_pagerank(edges, iters, d=0.85):
    """Independent PageRank with uniform dangling-mass
    redistribution: same formulation as the docstring, plain dicts."""
    nodes = sorted({s for s, _, _ in edges} | {t for _, t, _ in edges})
    n = len(nodes)
    outw: dict[str, float] = {}
    for s, _, w in edges:
        outw[s] = outw.get(s, 0.0) + w
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        dang = sum(pr[v] for v in nodes if outw.get(v, 0.0) == 0.0)
        contrib = {v: 0.0 for v in nodes}
        for s, t, w in edges:
            contrib[t] += pr[s] * w / outw[s]
        pr = {v: (1 - d) / n + d * (contrib[v] + dang / n) for v in nodes}
    return pr


_pr_nodes = st.sampled_from(["a", "b", "c", "d", "e", "f"])
_pr_edges_strategy = st.lists(
    st.tuples(_pr_nodes, _pr_nodes, st.integers(1, 3)),
    min_size=1,
    max_size=15,
)


@given(
    raw=_pr_edges_strategy,
    iters=st.integers(1, 4),
    weighted=st.booleans(),
)
@settings(**SPARK_SETTINGS)
def test_domain_pagerank_matches_python_power_iteration(
    spark, raw, iters, weighted
):
    from featurestore_spark.operators.web import domain_pagerank

    # collapse parallel edges the way link_graph's groupBy would
    agg: dict[tuple[str, str], int] = {}
    for s, t, w in raw:
        agg[(s, t)] = agg.get((s, t), 0) + w
    edges = [(s, t, w) for (s, t), w in agg.items()]
    df = spark.createDataFrame(
        edges, "src_domain string, dst_domain string, n_links int"
    )
    out = domain_pagerank(
        df,
        weight_col="n_links" if weighted else None,
        iterations=iters,
    )
    got = {r["domain"]: r["pr"] for r in out.collect()}
    want = _py_pagerank(
        [(s, t, w if weighted else 1.0) for s, t, w in edges], iters
    )
    assert set(got) == set(want), (edges, iters, weighted)
    assert all(abs(got[v] - want[v]) < 1e-9 for v in want), (
        edges,
        iters,
        weighted,
        got,
        want,
    )
    # mass conservation: the dangling term makes each iteration a
    # proper stochastic redistribution
    assert abs(sum(got.values()) - 1.0) < 1e-9


# -- main_content_blocks vs an independent Python replica ---------------------


def _py_main_blocks(html, stopwords):
    """Independent jusText-lite block scorer (re-module): same regex
    chain as main_content_blocks, plain Python."""
    import re

    from featurestore_spark.operators.text import BLOCK_TAG_SPLIT

    ents = [
        ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&"),
    ]

    def strip_collapse(s):
        s = re.sub(r"<[^>]*>", " ", s)
        for e, ch in ents:
            s = s.replace(e, ch)
        return re.sub(r"\s+", " ", s).strip()

    c = re.sub(r"(?is)<script[^>]*>.*?</script\s*>", " ", html)
    c = re.sub(r"(?is)<style[^>]*>.*?</style\s*>", " ", c)
    c = re.sub(r"(?s)<!--.*?-->", " ", c)
    out = []
    for b in re.split(BLOCK_TAG_SPLIT, c):
        text = strip_collapse(b)
        n = len(text)
        if n == 0:
            continue
        linked = sum(
            len(strip_collapse(m))
            for m in re.findall(r"(?is)<a\b[^>]*>(.*?)</a\s*>", b)
        )
        toks = [t for t in re.split(r"[^a-z]+", text.lower()) if t]
        n_stop = sum(1 for t in toks if t in stopwords)
        out.append(
            (
                text,
                n,
                linked / n,
                (n_stop / len(toks)) if toks else 0.0,
            )
        )
    return out


_mc_words = st.sampled_from(
    ["the", "of", "and", "widget", "cheap", "article", "zzz", "Data"]
)
_mc_piece = st.one_of(
    st.builds(
        lambda ws: " ".join(ws), st.lists(_mc_words, min_size=1, max_size=6)
    ),
    st.builds(lambda w: f'<a href="/x">{w}</a>', _mc_words),
    st.builds(lambda w: f"<A HREF='/y'>{w} link</A>", _mc_words),
    st.sampled_from(
        [
            "<p>", "</p>", "<div class='x'>", "</div>", "<LI>", "<br/>",
            "<span>", "</span>", "<em>", "</em>",
            "<script>var a = '<p>';</script>",
            "<!-- a <p> comment -->",
            "&amp; &lt;ok&gt;", "&nbsp;",
        ]
    ),
)


@given(pieces=st.lists(_mc_piece, min_size=1, max_size=20))
@settings(**SPARK_SETTINGS)
def test_main_content_blocks_matches_python_replica(spark, pieces):
    from featurestore_spark.operators.text import (
        EN_STOPWORDS,
        main_content_blocks,
    )

    html = " ".join(pieces)
    df = spark.createDataFrame([(html,)], "html string")
    got = [
        (b["text"], b["n_chars"], b["link_density"], b["stop_density"])
        for b in df.select(main_content_blocks("html").alias("b")).collect()[
            0
        ]["b"]
    ]
    want = _py_main_blocks(html, set(EN_STOPWORDS))
    assert len(got) == len(want), (html, got, want)
    for g, w in zip(got, want):
        assert g[0] == w[0] and g[1] == w[1], (html, g, w)
        assert abs(g[2] - w[2]) < 1e-12 and abs(g[3] - w[3]) < 1e-12, (
            html,
            g,
            w,
        )


# -- char_ngrams zip construction vs the substr reference ---------------------


_ngram_text = st.text(
    alphabet=st.sampled_from(list("ab c") + ["é", "中", "\U0001F600"]),
    min_size=0,
    max_size=24,
)


@given(texts=st.lists(_ngram_text, min_size=1, max_size=10), n=st.sampled_from([2, 3, 4]))
@settings(**SPARK_SETTINGS)
def test_char_ngrams_zip_matches_substr(spark, texts, n):
    """The O(L·n) split/zip_with construction (r14) must produce the
    exact gram list of the original O(L²) substr form — code-point
    positions, surrogate pairs intact, shorter-than-n → empty array."""
    from featurestore_spark.operators.text import char_ngrams

    def substr_ref(col):
        return F.when(
            F.length(col) >= n,
            F.transform(
                F.sequence(F.lit(1), F.length(col) - (n - 1)),
                lambda i: col.substr(i, F.lit(n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    rows = df.select(
        char_ngrams(F.col("t"), n).alias("zip"), substr_ref(F.col("t")).alias("ref")
    ).collect()
    for r, t in zip(rows, texts):
        assert r["zip"] == r["ref"], (t, n, r["zip"], r["ref"])
