"""Corpus-curation operators: repetition metrics, decontamination,
PII redaction (operators/curation.py — beyond-the-reference training-
data pipeline components; oracle coverage in q_repetition,
q_decontaminate, q_redact_pii, q_quality_filter)."""

import pytest
from pyspark.sql import functions as F

from featurestore_spark.operators.curation import (
    decontaminate,
    ngrams_all,
    redact_pii,
    repetition_metrics,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "a b a b a"),  # bigrams: ab,ba,ab,ba -> top 2, all 4 duplicated
        (2, "x y z"),  # bigrams xy,yz -> no repeats
        (3, "solo"),  # < 2 tokens -> no bigrams
        (4, "a b a b a"),  # exact dup of 1
        (5, "p q r s t u v w"),  # disjoint vocabulary
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_ngrams_all_keeps_duplicates(spark, docs):
    out = docs.select("doc_id", ngrams_all("text", 2).alias("g"))
    by_id = {r["doc_id"]: r["g"] for r in out.collect()}
    assert by_id[1] == ["a b", "b a", "a b", "b a"]
    assert by_id[2] == ["x y", "y z"]
    assert by_id[3] == []


def test_repetition_metrics_counts_and_fracs(spark, docs):
    out = repetition_metrics(docs, n=2)
    by_id = {r["doc_id"]: r.asDict() for r in out.collect()}
    assert by_id[1]["n_ngrams"] == 4
    assert by_id[1]["top_ngram_count"] == 2
    assert by_id[1]["dup_ngram_count"] == 4
    assert by_id[1]["top_ngram_frac"] == 0.5
    assert by_id[1]["dup_ngram_frac"] == 1.0
    assert by_id[2]["n_ngrams"] == 2
    assert by_id[2]["top_ngram_count"] == 1
    assert by_id[2]["dup_ngram_count"] == 0
    # no bigrams: zero counts, NULL fractions
    assert by_id[3]["n_ngrams"] == 0
    assert by_id[3]["top_ngram_frac"] is None
    # all five docs retained (no explode-drop of gram-less docs)
    assert len(by_id) == 5


def test_repetition_metrics_trigrams(spark, docs):
    out = repetition_metrics(docs, n=3)
    r1 = {r["doc_id"]: r.asDict() for r in out.collect()}[1]
    # trigrams of "a b a b a": aba, bab, aba -> top 2 of 3
    assert r1["n_ngrams"] == 3
    assert r1["top_ngram_count"] == 2
    assert r1["dup_ngram_count"] == 2


def test_decontaminate_flags_overlap(spark, docs):
    probes = spark.createDataFrame(
        [(100, "a b a b a"), (101, "m n o")], ["probe_id", "text"]
    )
    out = decontaminate(docs, probes, n=3)
    by_id = {r["doc_id"]: r.asDict() for r in out.collect()}
    # docs 1 and 4 share trigram shingles {aba, bab} with probe 100
    assert set(by_id) == {1, 4}
    assert by_id[1]["n_probes_hit"] == 1
    assert by_id[1]["n_shared_shingles"] == 2
    # broadcast hint survives to the probe side
    assert "Broadcast" in out._jdf.queryExecution().executedPlan().toString()


def test_redact_pii_counts_and_order(spark):
    rows = [
        (1, "mail me at bob@corp.com or sue+x@a.co.uk thanks"),
        (2, "docs at https://ex.org/a?u=bob@corp.com plus http://b.io x"),
        (3, "no pii here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r.asDict() for r in redact_pii(df).collect()}
    assert out[1]["n_emails"] == 2 and out[1]["n_urls"] == 0
    assert out[1]["text_redacted"] == "mail me at <EMAIL> or <EMAIL> thanks"
    # the URL-embedded email is swallowed by the URL token, not counted
    assert out[2]["n_urls"] == 2 and out[2]["n_emails"] == 0
    assert out[2]["text_redacted"] == "docs at <URL> plus <URL> x"
    assert out[3]["n_emails"] == 0 and out[3]["n_urls"] == 0
    assert out[3]["text_redacted"] == "no pii here"


def test_repetition_plan_has_no_shuffle(spark, docs):
    """The repetition fold must stay a single projection — no Exchange
    in the physical plan (the 100 TB design claim)."""
    plan = (
        repetition_metrics(docs, n=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_boilerplate_flags(spark, docs):
    from featurestore_spark.operators.curation import boilerplate_flags

    out = boilerplate_flags(docs, n=5, min_df=2)
    by_id = {r["doc_id"]: r.asDict() for r in out.collect()}
    # docs 1 and 4 are byte-identical: their single 5-gram span has
    # document frequency 2; nothing else repeats across docs
    assert set(by_id) == {1, 4}
    assert by_id[1]["n_shingles"] == 1
    assert by_id[1]["n_boilerplate"] == 1
    assert by_id[1]["boilerplate_frac"] == 1.0
    assert by_id[1]["max_span_df"] == 2


def test_chunk_documents_windows(spark):
    from featurestore_spark.operators.curation import chunk_documents

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y"), (3, "p q r s")], ["doc_id", "text"]
    )
    out = chunk_documents(df, window=2)
    rows = {(r["doc_id"], r["chunk_idx"]): r for r in out.collect()}
    assert rows[(1, 0)]["chunk_text"] == "a b"
    assert rows[(1, 2)]["chunk_text"] == "e"  # remainder, no padding
    assert rows[(1, 2)]["n_chunk_tokens"] == 1
    # exact multiple of window: no empty trailing chunk
    assert {(d, i) for d, i in rows if d == 3} == {(3, 0), (3, 1)}
    assert {(d, i) for d, i in rows if d == 2} == {(2, 0)}


def test_pack_chunks_next_fit(spark):
    from featurestore_spark.operators.curation import chunk_documents, pack_chunks
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in [(1, 5), (2, 3), (3, 4), (4, 9)]],
        ["doc_id", "text"],
    )
    chunks = chunk_documents(df, window=4).withColumn(
        "pack_group", F.col("doc_id") % 2
    )
    packed = pack_chunks(chunks, budget=6)
    rows = packed.collect()
    assert len(rows) == len(chunks.collect())  # every chunk packed once
    # no bin exceeds the budget (single over-budget chunks impossible:
    # chunk window 4 <= budget 6)
    by_bin = {}
    for r in rows:
        key = (r["pack_group"], r["bin_id"])
        by_bin[key] = by_bin.get(key, 0) + r["n_chunk_tokens"]
    assert all(v <= 6 for v in by_bin.values())
    # deterministic: rerun produces identical assignment
    again = {
        (r["doc_id"], r["chunk_idx"]): (r["bin_id"], r["bin_fill"])
        for r in pack_chunks(chunks, budget=6).collect()
    }
    first = {
        (r["doc_id"], r["chunk_idx"]): (r["bin_id"], r["bin_fill"])
        for r in rows
    }
    assert again == first


def test_chunk_documents_null_text_and_single_tokenize(spark):
    from featurestore_spark.operators.curation import chunk_documents

    df = spark.createDataFrame(
        [(1, "a b c"), (2, None)], ["doc_id", "text"]
    )
    out = chunk_documents(df, window=2)
    rows = out.collect()
    # null-text doc emits NO rows (no phantom empty chunk)
    assert {r["doc_id"] for r in rows} == {1}
    # the token split runs once per document, not once per chunk
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("split(") == 1


def test_pack_chunks_validates_inputs(spark):
    from featurestore_spark.operators.curation import pack_chunks
    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        [(1, 0, 3, 0), (1, 1, 2, 0)],
        ["doc_id", "chunk_idx", "n_chunk_tokens", "pack_group"],
    )
    with pytest.raises(Exception, match="null"):
        pack_chunks(
            base.withColumn(
                "n_chunk_tokens",
                F.when(F.col("chunk_idx") == 0, None).otherwise(
                    F.col("n_chunk_tokens")
                ),
            ),
            budget=4,
        ).collect()
    with pytest.raises(Exception, match="not unique"):
        pack_chunks(base, budget=4, order_cols=("doc_id",)).collect()


def test_dedup_lines_drops_frequent_and_preserves_structure(spark):
    from featurestore_spark.operators.curation import (
        dedup_lines,
        line_doc_frequency,
    )

    rows = [
        (1, "keep me\nCOOKIE banner\nunique one"),
        (2, "cookie banner\nother text\n\nafter blank"),
        (3, "cookie banner"),  # every line dropped
        (4, "untouched  doc   weird   spacing"),  # unaffected passthrough
        (5, None),
        (6, "keep me"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup_lines(df, max_docs=1).collect()}

    # 'cookie banner' (3 docs, case-insensitive) and 'keep me' (2 docs)
    # exceed max_docs=1 and are dropped everywhere
    assert out[1]["text"] == "unique one"
    assert (out[1]["n_lines"], out[1]["n_lines_kept"]) == (3, 1)
    # empty line survives (structure, never counted/dropped)
    assert out[2]["text"] == "other text\n\nafter blank"
    assert out[2]["n_lines_kept"] == 3
    # all lines dropped -> empty text, kept=0
    assert out[3]["text"] == "" and out[3]["n_lines_kept"] == 0
    assert out[6]["text"] == "" and out[6]["n_lines_kept"] == 0
    # unaffected doc is byte-identical (never exploded/rebuilt)
    assert out[4]["text"] == "untouched  doc   weird   spacing"
    # null text passes through with null counts
    assert out[5]["text"] is None and out[5]["n_lines"] is None

    freq = {
        r["line"]: r["doc_freq"] for r in line_doc_frequency(df).collect()
    }
    assert freq["cookie banner"] == 3
    assert freq["keep me"] == 2
    assert "" not in freq


def test_dedup_lines_max_docs_threshold_and_output_delimiter(spark):
    from featurestore_spark.operators.curation import dedup_lines

    rows = [(i, "shared line\nown %d" % i) for i in range(1, 4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # max_docs=3: nothing exceeds the threshold -> all byte-identical
    same = dedup_lines(df, max_docs=3).collect()
    assert all(r["text"] == "shared line\nown %d" % r["doc_id"] for r in same)
    # max_docs=2 with a custom join delimiter
    out = {
        r["doc_id"]: r["text"]
        for r in dedup_lines(df, max_docs=2, output_delimiter=" | ").collect()
    }
    assert out[1] == "own 1"


def test_dedup_lines_counting_frame_carries_no_text(spark):
    """The doc-frequency pass must shuffle only (hash, id) — no line
    strings — so boilerplate counting at corpus scale is a narrow
    shuffle regardless of line width."""
    from featurestore_spark.operators.curation import dedup_lines

    df = spark.createDataFrame(
        [(1, "a\nb"), (2, "a\nc")], "doc_id long, text string"
    )
    plan = dedup_lines(df)._jdf.queryExecution().optimizedPlan().toString()
    # the aggregate feeding the frequent-line filter groups on the hash
    assert "xxhash64" in plan


def test_dedup_lines_collapse_equals_raw(spark):
    """The exact-dup collapse factoring is output-identical: replicas
    each count as a document toward line frequency."""
    from featurestore_spark.operators.curation import dedup_lines

    base = [
        (1, "shared\nalpha"),
        (2, "shared\nbeta"),
        (3, None),
        (4, "solo\n\nsolo tail"),
    ]
    # add exact replicas of docs 1 and 4
    rows = base + [(11, "shared\nalpha"), (14, "solo\n\nsolo tail")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for max_docs in (1, 2):
        a = {
            r["doc_id"]: (r["text"], r["n_lines"], r["n_lines_kept"])
            for r in dedup_lines(df, max_docs=max_docs).collect()
        }
        b = {
            r["doc_id"]: (r["text"], r["n_lines"], r["n_lines_kept"])
            for r in dedup_lines(
                df, max_docs=max_docs, collapse_exact=False
            ).collect()
        }
        assert a == b
    # replicas made 'solo'/'solo tail' 2-doc lines: dropped at max_docs=1,
    # leaving exactly the kept empty structural line (never counted,
    # never dropped) — the rejoined text is the empty string
    out = {r["doc_id"]: r["text"] for r in dedup_lines(df).collect()}
    assert out[4] == ""
    assert out[4] == out[14]


def test_remove_shared_spans_semantics(spark):
    from featurestore_spark.operators.curation import remove_shared_spans

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (1, f"intro words here {shared} outro tail"),
        (2, f"{shared} second doc unique content going on"),
        (3, "totally unique document with no shared content at all"),
        (4, "rep rep rep rep rep rep rep rep rep rep"),  # within-doc only
        (5, None),
        (6, f"intro words here {shared} outro tail"),  # exact dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    results = {}
    for ce in (True, False):
        out = remove_shared_spans(df, n=5, min_df=2, collapse_exact=ce)
        results[ce] = {
            r["doc_id"]: (
                r["text"],
                r["n_tokens"],
                r["n_tokens_removed"],
                r["n_spans"],
            )
            for r in out.collect()
        }
    # collapse factoring is output-identical
    assert results[True] == results[False]
    out = results[True]
    # the shared 8-token span is removed from doc 2 as ONE merged span
    assert out[2] == ("second doc unique content going on", 14, 8, 1)
    # docs 1 and 6 are exact duplicates: every window shared -> emptied
    assert out[1] == ("", 13, 13, 1) and out[6] == out[1]
    # unaffected doc byte-identical; within-doc repetition never triggers
    assert out[3][0] == "totally unique document with no shared content at all"
    assert out[4] == ("rep rep rep rep rep rep rep rep rep rep", 10, 0, 0)
    # null text -> null counts
    assert out[5] == (None, None, None, None)


def test_remove_shared_spans_interval_merge_distinct_partners(spark):
    """Two overlapping windows frequent via DIFFERENT partner docs
    chain into one merged span (the documented n-gram relaxation)."""
    from featurestore_spark.operators.curation import remove_shared_spans

    rows = [
        (1, "a b c d e f g h tail1 tail2"),
        (2, "a b c d e other stuff here padding x"),  # shares w[0:5]
        (3, "junk1 junk2 d e f g h junk3 junk4 junk5"),  # shares w[3:8]
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["text"], r["n_tokens_removed"], r["n_spans"])
        for r in remove_shared_spans(df, n=5, min_df=2).collect()
    }
    # doc 1: windows at pos 0 (with doc2) and pos 3 (with doc3) merge
    # into one removed span covering tokens 0..8
    assert out[1] == ("tail1 tail2", 8, 1)
    assert out[2] == ("other stuff here padding x", 5, 1)
    assert out[3] == ("junk1 junk2 junk3 junk4 junk5", 5, 1)


def test_boilerplate_collapse_equals_raw_under_replication(spark):
    from featurestore_spark.operators.curation import boilerplate_flags

    base = [
        (1, "the same header line appears here plus unique alpha"),
        (2, "the same header line appears here plus unique beta"),
        (3, "entirely different content with no shared spans at all ok"),
    ]
    rows = base + [(11, base[0][1]), (12, base[1][1])]  # exact replicas
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {
        r["doc_id"]: (
            r["n_shingles"],
            r["n_boilerplate"],
            r["boilerplate_frac"],
            r["max_span_df"],
        )
        for r in boilerplate_flags(df, n=5, min_df=2).collect()
    }
    b = {
        r["doc_id"]: (
            r["n_shingles"],
            r["n_boilerplate"],
            r["boilerplate_frac"],
            r["max_span_df"],
        )
        for r in boilerplate_flags(df, n=5, min_df=2, collapse_exact=False).collect()
    }
    assert a == b
    # replicas carry the same metrics as their originals
    assert a[11] == a[1] and a[12] == a[2]
    # the shared header span has df = 4 (docs 1, 2, 11, 12)
    assert a[1][3] == 4


def test_decontaminate_collapse_equals_raw_under_replication(spark, docs):
    from featurestore_spark.operators.curation import decontaminate

    base = [r.asDict() for r in docs.collect()]
    # replicate one contaminated and one clean doc verbatim
    extra = [
        {**base[0], "doc_id": base[0]["doc_id"] + 1000},
        {**base[-1], "doc_id": base[-1]["doc_id"] + 1000},
    ]
    big = spark.createDataFrame(base + extra, docs.schema)
    probes = spark.createDataFrame(
        [(1, base[0]["text"])], ["probe_id", "text"]
    )
    a = {
        r["doc_id"]: (r["n_probes_hit"], r["n_shared_shingles"])
        for r in decontaminate(big, probes).collect()
    }
    b = {
        r["doc_id"]: (r["n_probes_hit"], r["n_shared_shingles"])
        for r in decontaminate(big, probes, collapse_exact=False).collect()
    }
    assert a == b
    # the replica of the contaminated doc is flagged with identical counts
    assert a[base[0]["doc_id"] + 1000] == a[base[0]["doc_id"]]


def test_decontaminate_spans_removes_probe_overlap(spark):
    from featurestore_spark.operators.curation import decontaminate_spans

    bench_q = "what is the capital of france paris is the capital"
    rows = [
        (1, f"some intro text {bench_q} and a conclusion here"),
        (2, "completely clean document with no benchmark overlap at all"),
        (3, None),
        (4, f"some intro text {bench_q} and a conclusion here"),  # replica
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    probes = spark.createDataFrame([(1, bench_q)], "probe_id long, text string")
    results = {}
    for ce in (True, False):
        results[ce] = {
            r["doc_id"]: (
                r["text"],
                r["n_tokens"],
                r["n_tokens_removed"],
                r["n_spans"],
            )
            for r in decontaminate_spans(
                docs, probes, n=5, collapse_exact=ce
            ).collect()
        }
    assert results[True] == results[False]
    out = results[True]
    # the embedded 10-token benchmark question is removed as one span
    assert out[1] == ("some intro text and a conclusion here", 17, 10, 1)
    assert out[4] == out[1]
    # clean doc byte-identical; null text -> null counts
    assert out[2][0] == "completely clean document with no benchmark overlap at all"
    assert out[3] == (None, None, None, None)


def test_should_collapse_auto_probe(spark):
    """'auto' skips the exact-dup collapse on duplicate-free input and
    triggers it once exact duplicates are material; True/False pass
    through unprobed."""
    from featurestore_spark.operators.curation import _should_collapse

    unique = spark.createDataFrame(
        [(i, f"distinct text number {i}") for i in range(200)],
        "doc_id long, text string",
    )
    duped = spark.createDataFrame(
        [(i, f"shared text {i % 20}") for i in range(200)],
        "doc_id long, text string",
    )
    assert _should_collapse(unique, "text", "auto") is False
    assert _should_collapse(duped, "text", "auto") is True
    # explicit booleans never probe (no job): pass-through semantics
    assert _should_collapse(unique, "text", True) is True
    assert _should_collapse(duped, "text", False) is False


def test_dedup_lines_include_batch_requires_index(spark):
    """include_batch=False without an index has no frequency source at
    all — must raise, not silently fall back to within-batch counting
    (ADVICE r5)."""
    import pytest

    from featurestore_spark.operators.curation import dedup_lines

    df = spark.createDataFrame([(1, "a\nb")], "doc_id long, text string")
    with pytest.raises(ValueError, match="include_batch"):
        dedup_lines(df, include_batch=False)


def test_collapse_exact_rejects_unknown_strings(spark):
    from featurestore_spark.operators.curation import boilerplate_flags

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="expected True, False, or 'auto'"):
        boilerplate_flags(df, collapse_exact="Auto").collect()


def test_c4_line_filter_rules(spark):
    from featurestore_spark.operators.curation import c4_line_filter

    good = "\n".join(
        [
            "this is a proper sentence with enough words.",
            "another complete sentence that also terminates properly!",
            'a third one, quoted at the end."',
            "short one.",  # < 3 words -> dropped
            "no terminal punctuation on this line",  # dropped
            "please enable javascript to view this page.",  # dropped
        ]
    )
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, good + "\nsome lorem ipsum filler text here."),
            (3, "object = { key: value }.\n" + good),
            (4, "only one good sentence survives this page here."),
            (5, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in c4_line_filter(docs).collect()}
    assert out[1]["keep"] and out[1]["n_kept_lines"] == 3
    assert out[1]["n_sentences"] == 3
    assert out[1]["text"].count("\n") == 2
    assert "javascript" not in out[1]["text"]
    assert not out[2]["keep"]  # lorem ipsum page rule
    assert not out[3]["keep"]  # curly brace page rule
    # one kept line -> one sentence: dropped by the 3-sentence page rule
    assert not out[4]["keep"] and out[4]["n_kept_lines"] == 1
    assert out[4]["n_sentences"] == 1
    assert not out[5]["keep"] and out[5]["text"] == "" and out[5]["n_lines"] == 0


def test_c4_line_filter_published_defaults(spark):
    """Defaults are the Raffel et al. 2020 §2.2 thresholds: lines
    need >= 5 words, pages need >= 3 sentences."""
    import inspect

    from featurestore_spark.operators.curation import c4_line_filter

    sig = inspect.signature(c4_line_filter)
    assert sig.parameters["min_words_per_line"].default == 5
    assert sig.parameters["min_sentences"].default == 3

    docs = spark.createDataFrame(
        [
            # 4-word line: dropped under the published default
            (1, "just four words here.\n" + "a proper sentence with five words.\n" * 3),
            # two sentences only -> page dropped by the sentence rule
            (2, "a proper sentence with five words.\n" * 2),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in c4_line_filter(docs).collect()}
    assert out[1]["keep"] and out[1]["n_kept_lines"] == 3
    assert "four words" not in out[1]["text"]
    assert not out[2]["keep"] and out[2]["n_sentences"] == 2


def test_ngram_novelty_scores_duplicates_zero(spark):
    from featurestore_spark.operators.curation import ngram_novelty

    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # exact dup: every gram first seen in doc 1
            (3, base + " iota kappa"),  # suffix adds 2 novel trigrams
            (4, "entirely different words with no shared trigrams at all"),
            (5, ""),  # no grams -> omitted
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in ngram_novelty(docs, n=3).collect()}
    assert 5 not in out
    assert out[1]["novel_frac"] == 1.0
    assert out[2]["novel_frac"] == 0.0 and out[2]["n_grams"] == out[1]["n_grams"]
    assert out[3]["n_novel"] == 2
    assert out[4]["novel_frac"] == 1.0


def test_gopher_repetition_rules_signals(spark):
    """Fixed-example checks of the 13 Gopher repetition signals
    (VERDICT r8 #6): dup line/para fractions by count and char mass
    (occurrences beyond the first), top n-gram char mass over the
    normalized text length, undefined signals -> NULL + keep=false,
    threshold overrides, zero-exchange plan."""
    from featurestore_spark.operators.curation import (
        GOPHER_REPETITION_THRESHOLDS,
        gopher_repetition_rules,
    )

    docs = spark.createDataFrame(
        [
            # 5 non-empty lines, 'dup line' twice (8 chars each);
            # 2 paragraphs, distinct
            (1, "dup line\ndup line\nother a\nother b\n\nsecond para"),
            # 'spam ' x 8: every 2-gram is "spam spam" (7 repeats x 9
            # chars), norm_len 39 -> top_2gram_char_frac > 1 possible
            (2, "spam spam spam spam spam spam spam spam"),
            (3, ""),
            (4, None),
            # varied text, no repeats at the unit or gram level
            (5, "alpha beta gamma delta\nepsilon zeta eta theta."),
            # one clean two-copy 5-gram duplication: "a b c d e" twice
            # (9 chars each, no overlap), norm_len 21
            (6, "a b c d e x a b c d e"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_repetition_rules(docs).collect()}
    pos = {
        r["doc_id"]: r
        for r in gopher_repetition_rules(docs, positional=True).collect()
    }

    r1 = out[1]
    assert r1["dup_line_frac"] == round(1 / 5, 4)  # 5 lines, 1 beyond-first
    # dup chars 8 over total line chars (8+8+7+7+11=41)
    assert r1["dup_line_char_frac"] == round(8 / 41, 4)
    assert r1["dup_para_frac"] == 0.0
    assert r1["dup_para_char_frac"] == 0.0

    r2 = out[2]
    assert r2["dup_line_frac"] == 0.0
    # 7 x "spam spam" beyond-first occurrences of 6: top = 7*9 = 63
    assert r2["top_2gram_char_frac"] == round(63 / 39, 4)
    assert r2["dup_5gram_char_frac"] > 1  # overlap-mass upper bound
    assert not r2["keep"]

    for i in (3, 4):  # undefined signals -> NULL fracs, keep False
        assert out[i]["dup_line_frac"] is None
        assert out[i]["keep"] is False

    r5 = out[5]
    assert r5["dup_line_frac"] == 0.0 and r5["dup_5gram_char_frac"] == 0.0
    # doc 5 has 8 tokens: no 9/10-grams -> NULL -> keep stays False
    assert r5["dup_9gram_char_frac"] is None and not r5["keep"]

    # positional=True (the paper's coverage). Doc 6: the default
    # counts the beyond-first copy (9 chars), the paper covers both
    # copies (18 chars) — 2x; no 6-gram repeats in either mode
    assert out[6]["dup_5gram_char_frac"] == round(9 / 21, 4)
    assert pos[6]["dup_5gram_char_frac"] == round(18 / 21, 4)
    assert out[6]["dup_6gram_char_frac"] == 0.0
    assert pos[6]["dup_6gram_char_frac"] == 0.0
    # top 2-gram "a b" (tie with b c/c d/d e, smallest wins) occurs
    # twice without overlap: 2*3 chars in both modes
    assert pos[6]["top_2gram_char_frac"] == round(6 / 21, 4)
    assert out[6]["top_2gram_char_frac"] == round(6 / 21, 4)
    # doc 2: overlapping "spam spam" / 5-gram occurrences cover every
    # character exactly once -> 1.0, vs the default's 63/39 and
    # (4-1)*24/39
    assert pos[2]["top_2gram_char_frac"] == 1.0
    assert pos[2]["dup_5gram_char_frac"] == 1.0
    assert out[2]["dup_5gram_char_frac"] == round(72 / 39, 4)
    for i in (3, 4):
        assert pos[i]["dup_line_frac"] is None and pos[i]["keep"] is False

    # threshold override re-cuts keep; unknown names fail fast
    loose = gopher_repetition_rules(
        docs.where("doc_id = 5"),
        thresholds={"dup_9gram_char_frac": 1.0},
    ).collect()[0]
    assert not loose["keep"]  # still NULL-signal -> false
    with pytest.raises(ValueError, match="unknown thresholds"):
        gopher_repetition_rules(docs, thresholds={"nope": 1.0})
    assert len(GOPHER_REPETITION_THRESHOLDS) == 13

    plan = (
        gopher_repetition_rules(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "Join" not in plan


def test_curate_corpus_presets(spark):
    """curate_corpus(preset) is pure composition: identical rows to
    the hand-wired operator chains; 'gopher' applies BOTH halves of
    the paper's table (doc-quality AND repetition rules, VERDICT r8
    #6); the fineweb preset disables the C4 terminal-punct line rule
    and conjoins the MassiveText base filtering + FineWeb keeps over
    the CLEANED text; unknown presets fail fast."""
    from featurestore_spark.operators.curation import (
        c4_line_filter,
        curate_corpus,
        gopher_repetition_rules,
    )
    from featurestore_spark.operators.text import (
        fineweb_doc_rules,
        gopher_doc_rules,
    )

    good = "\n".join(
        # distinct lines (FineWeb's dup-line filter), >= 5 words and
        # terminal punct (C4), >= 2 stopwords / 50+ words (Gopher);
        # every adjacent word PAIR contains a line-unique token so no
        # 2-gram repeats across the 15 lines (the repetition rules'
        # top_2gram_char_frac <= 0.20 drops template-repetitive docs
        # — which is exactly what a fixed sentence frame is)
        f"The w{6 * i}q of w{6 * i + 1}q near w{6 * i + 2}q and "
        f"w{6 * i + 3}q w{6 * i + 4}q w{6 * i + 5}q."
        for i in range(15)
    )
    no_punct = "this line has many words but never ends with a mark\n" * 40
    docs = spark.createDataFrame(
        [(1, good), (2, no_punct), (3, "short. text."), (4, None)],
        "doc_id long, text string",
    )

    got_c4 = curate_corpus(docs, "c4")
    hand_c4 = c4_line_filter(docs).where("keep").select("doc_id", "text")
    assert sorted(got_c4.collect()) == sorted(hand_c4.collect())

    got_g = {r["doc_id"] for r in curate_corpus(docs, "gopher").collect()}
    gq = (
        gopher_doc_rules(docs, passthrough=("text",))
        .where("keep")
        .select("doc_id", "text")
    )
    hand_g = {
        r["doc_id"]
        for r in gopher_repetition_rules(gq).where("keep").collect()
    }
    assert got_g == hand_g and 1 in got_g
    # gopher preset returns the ORIGINAL text
    row = curate_corpus(docs, "gopher").where("doc_id = 1").collect()
    assert row and row[0]["text"] == good

    got_fw = curate_corpus(docs, "fineweb")
    cleaned = c4_line_filter(docs, require_terminal_punct=False).where("keep")
    hand_fw = (
        cleaned.join(
            gopher_doc_rules(cleaned).where("keep").select("doc_id"), "doc_id"
        )
        .join(
            gopher_repetition_rules(cleaned).where("keep").select("doc_id"),
            "doc_id",
        )
        .join(
            fineweb_doc_rules(cleaned).where("keep").select("doc_id"),
            "doc_id",
        )
        .select("doc_id", "text")
    )
    assert sorted(got_fw.collect()) == sorted(hand_fw.collect())
    fw_ids = {r["doc_id"] for r in got_fw.collect()}
    # the punct-less doc dies doc-level (punct_line_frac <= 0.12) in
    # the fineweb stack even though the line rule is disabled
    assert 1 in fw_ids and 2 not in fw_ids

    with pytest.raises(ValueError, match="unknown preset"):
        curate_corpus(docs, "dolma")

    # the fineweb chain is ONE linear plan: passthrough chaining, no
    # id-joins re-reading the corpus, no exchanges
    plan = (
        curate_corpus(docs, "fineweb")._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "Join" not in plan and "Exchange" not in plan


def test_c4_terminal_punct_knob(spark):
    """require_terminal_punct=False keeps punct-less lines (the
    FineWeb variant) while the default drops them (the pinned-oracle
    C4 behavior)."""
    from featurestore_spark.operators.curation import c4_line_filter

    docs = spark.createDataFrame(
        [(1, "a line with at least five words here\n"
             "another full line ending with a period.")],
        "doc_id long, text string",
    )
    strict = c4_line_filter(docs).collect()[0]
    loose = c4_line_filter(docs, require_terminal_punct=False).collect()[0]
    assert strict["n_kept_lines"] == 1 and loose["n_kept_lines"] == 2
