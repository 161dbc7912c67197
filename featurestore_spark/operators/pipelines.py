"""One-call published-pipeline presets (VERDICT r10 #2).

The full RefinedWeb-shaped recipe — URL dedup, domain blocklist, soft
URL scoring, per-domain cap, text extraction, corpus-wide line dedup,
rule-based curation, fuzzy dedup — previously existed only as a
hand-assembled chain of eight operators (the q_refinedweb_e2e capstone
query). Copying 40 lines of stage wiring by hand is exactly how users
get the fence / collapse placements wrong, so the chain lives HERE as
the product artifact, and the capstone query calls this function — the
same end-to-end oracle pins the library path.

Public recipe: Penedo et al. 2024, "The RefinedWeb dataset for Falcon
LLM" §3 (URL filtering → text extraction → line-wise corrections →
fuzzy dedup), composed from this repo's individually-oracled
operators at their published constants.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def refinedweb_pipeline(
    df: DataFrame,
    *,
    url_col: str = "url",
    text_col: str = "text",
    id_col: str = "doc_id",
    html_col: str | None = None,
    extract: Callable[[Column], Column] | None = None,
    strip_www: bool = False,
    blocklist: DataFrame | None = None,
    keep_unattributed: bool = True,
    terms: dict[str, float] | None = None,
    url_threshold: float | None = None,
    cap: int | None = None,
    cap_order_col: str | None = None,
    lid_model: tuple[DataFrame, DataFrame] | None = None,
    lid_keep: str | list[str] | None = None,
    lid_n: int = 3,
    line_max_docs: int | None = 1,
    curate: str | None = "gopher",
    positional: bool = False,
    quality_model: tuple[DataFrame, DataFrame] | None = None,
    quality_threshold: float | None = None,
    quality_top_frac: float | None = None,
    positive_label: str = "hq",
    dedup: str | None = "fineweb",
    max_bucket: int = 1000,
    **dedup_overrides,
) -> DataFrame:
    """The full RefinedWeb-shaped ingest funnel in one call, stages in
    the published order, each individually-oracled operator at its
    documented placement. Returns the kept documents as
    ``(id_col, text_col)`` — join metadata back by id (upstream
    columns cannot survive the curation stage, which rewrites the
    corpus down to id + cleaned text).

    Stages (a ``None`` knob skips its stage):

    1. **URL exact dedup** — `web.url_dedup` on the canonical form;
       the minimum-id page per canonical URL survives, NULL-canonical
       rows drop.
    2. **Domain blocklist** (``blocklist=`` DataFrame of domains) —
       `web.filter_domains`, broadcast anti-join on the registrable
       domain.
    3. **Soft URL word score** (``terms=`` + ``url_threshold=``) —
       `web.filter_urls`; RefinedWeb §3.1's word-based URL rule.
    4. **Per-domain cap** (``cap=``, best rows by ``cap_order_col``) —
       `web.cap_per_domain`; WindowGroupLimit, no full sort.
    5. **Text extraction** — when ``html_col`` is given, ``text_col``
       becomes `text.strip_html(html_col)`; pass ``extract=`` to
       override with a custom Column expression (it receives the
       ``html_col`` column, or the raw ``text_col`` when no
       ``html_col``). Runs AFTER the URL stages so extraction cost is
       paid only for surviving pages — the published order, and the
       100 TB-relevant placement.
    6. **Trained language-ID gate** (``lid_model=`` from
       `text.lid_fit` + ``lid_keep=`` language code(s), optional) —
       keep documents `text.lid_classify` predicts in the kept
       set; runs right after extraction, where CCNet/RefinedWeb run
       their fastText LID.
    7. **Corpus-wide line dedup** (``line_max_docs=``, default 1) —
       `curation.dedup_lines` with ``collapse_exact=True``: in a
       CHAINED plan the exact-dup collapse doubles as the
       stage-boundary materialization barrier (the r6 placement
       lesson; 'auto' would probe and re-execute upstream lineage).
    8. **Rule-based curation** (``curate=`` preset name, default
       ``'gopher'``) — `curation.curate_corpus`; ``positional=True``
       opts into the paper-exact positional repetition signals.
    9. **Trained quality gate** (``quality_model=`` from
       `text.quality_fit` + exactly one of ``quality_threshold=`` /
       ``quality_top_frac=``, optional) — `text.quality_gate` after
       the rules and before the fuzzy dedup, the DCLM/FineWeb-Edu
       placement of the model-based filter.
    10. **Fuzzy dedup** (``dedup=`` preset name, default
       ``'fineweb'``) — `dedup.dedup_corpus` at the published MinHash
       constants; ``max_bucket`` and ``**dedup_overrides`` pass
       through.

    With every knob set, the call covers the FULL modern published
    stack: URL front → extraction → LID → line dedup → rules →
    model quality filter → fuzzy dedup.

    Scale shape: the URL stages move only ids + canonical strings
    (page bodies join back once, after the cap, when most rows are
    already gone); every stage keeps its audited plan — one
    hash-groupBy for the URL collapse, broadcast anti-join for the
    blocklist, zero-exchange projection for the score, partial+final
    WindowGroupLimit for the cap, and the bucketed
    never-all-pairs MinHash ladder for the dedup tail.
    """
    from featurestore_spark.operators.curation import (
        curate_corpus,
        dedup_lines,
    )
    from featurestore_spark.operators.dedup import dedup_corpus
    from featurestore_spark.operators.text import strip_html
    from featurestore_spark.operators.web import (
        cap_per_domain,
        filter_domains,
        filter_urls,
        url_dedup,
    )
    from featurestore_spark.operators.materialize import materialize

    if (terms is None) != (url_threshold is None):
        raise ValueError(
            "terms and url_threshold enable the URL-score stage "
            "together — pass both or neither"
        )
    if (lid_model is None) != (lid_keep is None):
        raise ValueError(
            "lid_model and lid_keep enable the language-ID gate "
            "together — pass both or neither"
        )
    if quality_model is not None and (
        (quality_threshold is None) == (quality_top_frac is None)
    ):
        raise ValueError(
            "quality_model needs exactly one of quality_threshold= / "
            "quality_top_frac="
        )
    if quality_model is None and not (
        quality_threshold is None and quality_top_frac is None
    ):
        raise ValueError(
            "quality_threshold/quality_top_frac need quality_model="
        )

    # 1. URL-level exact dedup; keeper ids pull the page rows back in.
    # The groupBy side carries only (canonical_url, id) — page bodies
    # never enter the collapse shuffle.
    dd = url_dedup(df, url_col, id_col, strip_www=strip_www)
    kept = dd.select(
        F.col("keep_id").alias(id_col), "canonical_url"
    ).join(df.drop("canonical_url").drop(url_col), id_col)

    # 2. domain blocklist + 3. soft URL word score + 4. per-domain cap
    if blocklist is not None:
        kept = filter_domains(
            kept, blocklist, "canonical_url",
            keep_unattributed=keep_unattributed,
        )
    if terms is not None:
        kept = filter_urls(
            kept, "canonical_url", terms=terms, threshold=url_threshold
        )
    if cap is not None:
        kept = cap_per_domain(
            kept, cap, "canonical_url",
            order_col=cap_order_col, id_col=id_col,
            keep_unattributed=keep_unattributed,
        )

    # 5. text extraction — only the surviving pages pay for it.
    #
    # r15 examined-and-REJECTED (guide §1's "fresh ideal plans are
    # usually slower at first" clause, measured): the fence below
    # freezes AQE's coalesced partitioning (ONE partition at bench
    # scale — probed), so the extraction ran as a single task and a
    # split fence (checkpoint the slim pre-extraction frame, fan_out,
    # extract wide into the fence below) was prototyped to re-widen
    # it. Alternating A/B (4 runs per arm, per-arm minima) measured
    # the split fence + a matching pre-curation re-widener as a NET
    # LOSS on q_refinedweb_e2e (~8.1s vs ~7.4s mins, consistent lean
    # across runs): the stages downstream of this fence are
    # SHUFFLE-bound (line-dedup counting, exact-collapse groupBys, LSH
    # banding), and re-widening a tiny checkpoint multiplies their
    # task and shuffle-block counts — the same failure mode as the
    # r14 loader-level fanout rejection, recurring one stage deeper.
    # Re-widening pays off only where per-row compute dominates
    # DOWNSTREAM of the barrier (the dedup tail's k=112 signature
    # pass — see dedup.py's reps fan_out, measured 2.0x on
    # q_dedup_preset); the extraction's serial slot is bounded by the
    # fence job itself and the e2e wall prefers the narrow plan.
    if html_col is not None:
        fn = extract if extract is not None else strip_html
        kept = kept.withColumn(text_col, fn(F.col(html_col)))
    elif extract is not None:
        kept = kept.withColumn(text_col, extract(F.col(text_col)))
    kept = kept.select(id_col, text_col)

    # Stage-boundary fence: extraction rewrote every surviving page
    # body, and the corpus-wide stages below each consume their input
    # MORE than once (dedup_lines' exact-dup collapse runs a groups
    # pass and a membership pass). Without a barrier here each of
    # those passes re-executes the extraction lineage — measured 3×
    # extraction + 3× curation per e2e run at sf0.01 (r14 probe).
    # One corpus-sized materialization buys single-execution of the
    # whole URL+extraction front; `materialize`'s reliable mode keeps
    # the same trade durable on a real cluster.
    if html_col is not None or extract is not None:
        kept = materialize(kept)

    # 6. trained language-ID gate (the CCNet/RefinedWeb placement:
    # right after extraction, before any text-level correction)
    if lid_model is not None:
        from featurestore_spark.operators.text import lid_classify

        langs = [lid_keep] if isinstance(lid_keep, str) else list(lid_keep)
        keep_ids = (
            lid_classify(
                kept, lid_model, text_col=text_col, id_col=id_col, n=lid_n
            )
            .where(F.col("lang_pred").isin(langs))
            .select(id_col)
        )
        kept = kept.join(keep_ids, id_col, "left_semi")

    # 7. corpus-wide line dedup (collapse_exact=True: chained stage)
    if line_max_docs is not None:
        kept = dedup_lines(
            kept, text_col, id_col,
            max_docs=line_max_docs, collapse_exact=True,
        ).select(id_col, text_col)

    # 8. rule-based curation (a pre-curation re-widening barrier was
    # prototyped and rejected together with the split fence above —
    # same A/B, same shuffle-bound-downstream reasoning)
    if curate is not None:
        kept = curate_corpus(
            kept, curate, text_col, id_col, positional=positional
        )

    # 9. trained quality gate (DCLM placement: after the rules,
    # before the fuzzy dedup)
    if quality_model is not None:
        from featurestore_spark.operators.text import quality_gate

        kept = quality_gate(
            kept, quality_model,
            positive_label=positive_label,
            threshold=quality_threshold, top_frac=quality_top_frac,
            text_col=text_col, id_col=id_col,
        ).select(id_col, text_col)

    # 10. published-constant fuzzy dedup (dedup_keep_docs fences its
    # own input, so the lazy curation/quality stages above run once)
    if dedup is not None:
        kept = dedup_corpus(
            kept, dedup, text_col, id_col,
            max_bucket=max_bucket, **dedup_overrides,
        )
    return kept.select(id_col, text_col)


def crawl_pipeline(
    sites: DataFrame,
    frontier: DataFrame | None = None,
    *,
    agent: str = "ccbot",
    host_col: str = "host",
    robots_col: str = "robots_txt",
    sitemap_col: str = "sitemap_xml",
    url_col: str = "url",
    id_col: str = "url_id",
    seed_id: Column | None = None,
    normalize: bool = False,
    strip_www: bool = False,
    dedup: bool = True,
    cap: int | None = None,
    cap_order_col: str | None = None,
    schedule: bool = True,
    order_col: str | None = None,
    default_delay_s: float = 1.0,
    keep_stages: bool = False,
) -> DataFrame:
    """The crawl-PLANNING stack in one call (VERDICT r12 #3 — the
    `refinedweb_pipeline` precedent applied to the pre-fetch half of
    the web family): sitemap seed → robots politeness gate →
    canonical URL dedup → per-domain cap → Crawl-delay fetch
    schedule, each stage the individually-oracled operator at the
    placement a crawler runs it.

    Inputs:

    - ``sites`` — one row per host: ``host_col``, ``robots_col`` (the
      fetched robots.txt payload; rules AND Crawl-delays both come
      from it), and — when the pipeline seeds its own frontier —
      ``sitemap_col`` (a sitemap urlset/index XML payload).
    - ``frontier`` (optional) — a pre-built frontier
      (``id_col``, ``url_col``, any passthrough columns). When given,
      the sitemap seed stage is skipped and ``sitemap_col`` ignored.

    Stages (a ``None``/``False`` knob skips its stage):

    1. **Sitemap seed** (no ``frontier``) — `extract_sitemap_entries`
       over ``sitemap_col``; one frontier row per ``<loc>`` entry,
       carrying every other ``sites`` column plus ``seed_pos`` (the
       entry's position) and ``sitemap_lastmod`` (the entry's change
       claim — filter with `robots.recrawl_staleness` for a
       changed-pages-only recrawl). ``seed_id=`` is a Column expression for the
       row id (it sees the site columns and ``seed_pos``); default
       ``xxhash64(url)``. The entries array is `plan_fence`d before
       the explode — InferFiltersFromGenerate would otherwise
       re-inline the sitemap regex HOFs into the inferred filter (the
       round-12 pathology).
    2. **Robots gate** — `parse_robots_rules` + `filter_allowed` at
       ``agent``; ``normalize=True`` canonicalizes percent-encoding
       on both sides (for frontiers/robots built outside this repo's
       web family).
    3. **Canonical URL dedup** (``dedup=True``) — `url_dedup`
       keep-min-id on the canonical form; survivors carry
       ``canonical_url``.
    4. **Per-domain cap** (``cap=``) — `cap_per_domain`, best rows by
       ``cap_order_col`` (WindowGroupLimit, no full sort).
    5. **Fetch schedule** (``schedule=True``) — `crawl_delays` from
       the same robots payloads + `schedule_fetches`: per-host
       ``fetch_seq``/``fetch_at_s`` at the host's Crawl-delay cadence
       (``default_delay_s`` where undeclared), queue order by
       ``order_col`` descending.

    ``keep_stages=True`` returns the AUDIT frame instead: every
    seeded/input frontier row with per-stage verdict columns —
    ``robots_allowed``, ``url_keeper`` (survived the canonical
    collapse; present only when ``dedup=True``), ``kept`` (survived
    the cap) and ``canonical_url`` — for funnel accounting
    (scheduling is skipped; it only applies to kept rows). The capstone query q_crawl_frontier pins this path
    against a closed-form oracle.

    Scale shape: ``sites`` is hosts-sized — its rule/delay frames
    broadcast; the frontier moves through one groupBy (canonical
    collapse), one WindowGroupLimit (cap), and one per-host
    row_number (schedule), never an all-pairs or a collect."""
    from featurestore_spark.operators.materialize import plan_fence
    from featurestore_spark.operators.robots import (
        crawl_delays,
        extract_sitemap_entries,
        filter_allowed,
        parse_robots_rules,
    )
    from featurestore_spark.operators.web import cap_per_domain, url_dedup

    # generated-name collision guard (ADVICE r13 — the robots-family
    # _guard_reserved stance applied to the pipeline's own outputs):
    # an input frame already carrying a column this call generates
    # would either fail late with an ambiguous reference (dedup join)
    # or be silently clobbered (seeding withColumns) — reject up front
    gen = {"robots_allowed"}
    if dedup:
        gen.add("canonical_url")
    if keep_stages:
        gen.add("kept")
        if dedup:
            gen.add("url_keeper")
    elif schedule:
        gen.update({"fetch_seq", "fetch_at_s"})

    def _guard_generated(df: DataFrame, which: str, names: set) -> None:
        clash = sorted(c for c in df.columns if c in names)
        if clash:
            raise ValueError(
                f"crawl_pipeline: {which} frame already carries "
                f"column(s) {clash}, which this call generates — "
                "rename them before calling (the robots gate adds "
                "'robots_allowed'; dedup adds 'canonical_url'; "
                "keep_stages adds 'url_keeper'/'kept'; schedule adds "
                "'fetch_seq'/'fetch_at_s'; sitemap seeding adds "
                "'seed_pos'/'sitemap_lastmod'/'_entries' plus the "
                "id_col/url_col it synthesizes)"
            )

    if frontier is None:
        _guard_generated(
            sites, "sites",
            gen | {"seed_pos", "sitemap_lastmod", "_entries",
                   id_col, url_col},
        )
    else:
        _guard_generated(frontier, "frontier", gen)

    if frontier is None:
        if sitemap_col not in sites.columns:
            raise ValueError(
                f"crawl_pipeline: no frontier= given and sites lacks "
                f"{sitemap_col!r} to seed one from"
            )
        passthrough = [
            c for c in sites.columns if c not in (robots_col, sitemap_col)
        ]
        seeded = plan_fence(
            sites.select(
                *passthrough,
                extract_sitemap_entries(sitemap_col).alias("_entries"),
            )
        ).select(
            *passthrough, F.posexplode("_entries").alias("seed_pos", "_e")
        ).withColumn(url_col, F.col("_e.loc")).withColumn(
            # the sitemap's change claim rides along: compose with
            # robots.recrawl_staleness(lastmod_col="sitemap_lastmod")
            # to refetch only changed pages
            "sitemap_lastmod", F.col("_e.lastmod")
        ).drop("_e")
        rid = seed_id if seed_id is not None else F.xxhash64(F.col(url_col))
        frontier = seeded.withColumn(id_col, rid)

    rules = parse_robots_rules(
        sites.select(host_col, robots_col),
        agent=agent, host_col=host_col, robots_col=robots_col,
        normalize=normalize,
    )
    gated = filter_allowed(
        frontier, rules, url_col=url_col, host_col=host_col,
        keep_verdict=keep_stages, normalize=normalize,
    )
    if keep_stages:
        # audit mode branches the gated frame FOUR ways (the audit
        # left-joins read it directly and through canonical/capped;
        # dedup + cap each read it again), and un-checkpointed lineage
        # re-executes once per branch — ReuseExchange does not fire
        # across join branches (the r14 branch-duplication rule,
        # guide §2.1), so the robots longest-match fold over the whole
        # frontier ran ~4x per audit. A materialize barrier executes
        # the gate ONCE and makes every branch a checkpoint scan; it
        # also subsumes the r14 plan_fence (downstream filters
        # reference the computed boolean, no HOF-carrying Filters —
        # plan_audit stays clean). The single-pass keep_stages=False
        # path needs no barrier: its one where() IS the operator,
        # evaluated once in a linear plan.
        from featurestore_spark.operators.materialize import materialize

        gated = materialize(gated)
    allowed = (
        gated.where(F.col("robots_allowed")) if keep_stages else gated
    )

    if dedup:
        dd = url_dedup(allowed, url_col, id_col, strip_www=strip_www)
        canonical = allowed.join(
            dd.select(F.col("keep_id").alias(id_col), "canonical_url"),
            id_col,
        )
    else:
        canonical = allowed

    capped = canonical
    if cap is not None:
        capped = cap_per_domain(
            canonical, cap,
            url_col="canonical_url" if dedup else url_col,
            order_col=cap_order_col, id_col=id_col,
        )

    if keep_stages:
        # audit frame: every frontier row + per-stage verdicts
        out = gated
        if dedup:
            out = out.join(
                canonical.select(id_col, "canonical_url"), id_col, "left"
            ).withColumn("url_keeper", F.col("canonical_url").isNotNull())
        kept_ids = capped.select(id_col).withColumn("kept", F.lit(True))
        out = out.join(kept_ids, id_col, "left").withColumn(
            "kept", F.coalesce(F.col("kept"), F.lit(False))
        )
        return out

    if schedule:
        from featurestore_spark.operators.robots import schedule_fetches

        delays = crawl_delays(
            sites.select(host_col, robots_col),
            agent=agent, host_col=host_col, robots_col=robots_col,
        )
        capped = schedule_fetches(
            capped, delays,
            url_col="canonical_url" if dedup else url_col,
            id_col=id_col, order_col=order_col,
            default_delay_s=default_delay_s, host_col=host_col,
        )
    return capped
