"""Seeded input generators and their known answers.

Every workload's inputs are written as parquet straight from numpy /
pyarrow (no Spark), together with the answers the benchmark checks the
program's outputs against. The same seed gives the same files and the
same answers. Nothing here imports the package under test.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# -- shared helpers -----------------------------------------------------------


def table_digest(table: pa.Table, columns: list[str]) -> dict:
    """Row count and an order-insensitive digest of `columns`.

    Each row is rendered as its columns cast to string (NULL as ``\\N``)
    joined by a unit separator, hashed to 64 bits, and the hashes are
    summed modulo 2**64, so row order and file layout do not matter
    while every value does."""
    if table.num_rows == 0:
        return {"rows": 0, "digest": "0"}
    parts = []
    for c in columns:
        col = table.column(c)
        if pa.types.is_timestamp(col.type):
            col = pc.cast(col, pa.timestamp("us"))
        parts.append(pc.fill_null(pc.cast(col, pa.string()), "\\N"))
    rows = pc.binary_join_element_wise(*parts, "\x1f")
    import pandas as pd

    hashes = pd.util.hash_array(
        np.asarray(rows.to_numpy(zero_copy_only=False), dtype=object),
        categorize=False,
    )
    return {"rows": table.num_rows, "digest": str(int(hashes.sum(dtype=np.uint64)))}


_DDL = {pa.string(): "STRING", pa.int64(): "BIGINT", pa.timestamp("us", tz="UTC"): "TIMESTAMP"}


def ddl(path: str) -> str:
    """Spark DDL schema of a parquet file written here, so the reader
    needs no schema-inference job."""
    return ", ".join(f"`{f.name}` {_DDL[f.type]}" for f in pq.read_schema(path))


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


def _words(rng: np.random.Generator, n: int, lo: int = 3, hi: int = 9) -> list[str]:
    """`n` distinct pseudo-words of lowercase letters."""
    out: set[str] = set()
    while len(out) < n:
        size = int(rng.integers(lo, hi + 1))
        out.add("".join(chr(97 + int(c)) for c in rng.integers(0, 26, size)))
    return sorted(out)


def _md5_key(id_type: str, key: str) -> str:
    """The vault's entity id: md5 hex of the id type concatenated with
    the natural key (no separator)."""
    import hashlib

    return hashlib.md5((id_type + key).encode()).hexdigest()


# -- feature_build ------------------------------------------------------------

EVENT_TYPES = ["view", "click", "search", "cart", "buy", "login"]
SESSION_TIMEOUT_S = 1800
FEATURE_T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
ASOF_DAYS = [20, 40, 60]
LABEL_DAYS = [0, 35]
FEATURE_COLS = (
    ["entity", "n_sessions", "path", "n_events_7d"]
    + [f"f_{t}" for t in EVENT_TYPES]
    + ["label"]
)


def asof_time(i: int) -> str:
    return (FEATURE_T0 + timedelta(days=ASOF_DAYS[i])).strftime("%Y-%m-%d %H:%M:%S")


def label_time(i: int) -> str:
    return (FEATURE_T0 + timedelta(days=LABEL_DAYS[i])).strftime("%Y-%m-%d %H:%M:%S")


def gen_feature_build(
    rng: np.random.Generator,
    out_dir: str,
    *,
    n_entities: int,
    sessions_per_entity: int,
    label_mix: dict[str, int],
    hub_mix: dict[str, int],
    link_dups: int,
) -> dict:
    """An event store, a label history and a customer registry.

    Events: each entity has `sessions_per_entity` bursts of 2-8 events,
    10 s to 10 min apart, starting at uniform times over 61 days;
    timestamps are distinct per entity, so every ordering the features
    use is total.

    The vault set-up loads, in order: the entity hub; the events as a
    satellite; the day-0 labels (all entities but ``label_mix['new']``);
    an entity-device link with ``link_dups`` duplicate rows; the day-35
    label delta (``unchanged``, ``updated`` and ``new`` labels plus
    ``dup`` exact copies); a day-35 hub delta (``unchanged`` and
    ``new`` keys, ``deleted`` keys flagged ``op='D'``, ``dup`` copies);
    then it compacts the label history. The answers are each load's
    `LoadResult` counts, each table's current-snapshot digest, the
    compacted history's row count, and, per as-of date, the digest of
    the feature table DuckDB computes from these files."""
    ent, typ, ts, val = [], [], [], []
    span_s = 61 * 86400
    for e in range(n_entities):
        key = f"E{e:06d}"
        seen: set[int] = set()
        for _ in range(sessions_per_entity):
            t = int(rng.integers(0, span_s))
            for _ in range(int(rng.integers(2, 9))):
                while t in seen:
                    t += 1
                seen.add(t)
                ent.append(key)
                typ.append(EVENT_TYPES[int(rng.integers(len(EVENT_TYPES)))])
                ts.append(t)
                val.append(int(rng.integers(0, 1000)))
                t += int(rng.integers(10, 600))
    t0_us = int(FEATURE_T0.timestamp()) * 1_000_000
    n = len(ent)
    events = pa.table(
        {
            "event_id": pa.array([f"V{i:08d}" for i in range(n)], pa.string()),
            "entity": pa.array(ent, pa.string()),
            "event_type": pa.array(typ, pa.string()),
            "ts": pa.array(
                (np.asarray(ts, dtype=np.int64) * 1_000_000 + t0_us),
                pa.timestamp("us", tz="UTC"),
            ),
            "value": pa.array(val, pa.int64()),
        }
    )
    keys = [f"E{e:06d}" for e in range(n_entities)]
    order = [keys[int(i)] for i in rng.permutation(n_entities)]

    # labels: day 0 for all but the `new` ones, then the day-35 delta
    tiers = ["bronze", "silver", "gold", "platinum"]
    m = label_mix
    late = order[: m["new"]]
    labels0 = {k: tiers[int(rng.integers(len(tiers)))] for k in order[m["new"]:]}
    rest = order[m["new"]:]
    unchanged = rest[: m["unchanged"]]
    updated = rest[m["unchanged"] : m["unchanged"] + m["updated"]]
    labels = dict(labels0)
    delta = [(k, labels0[k]) for k in unchanged]
    for k in updated:
        labels[k] = tiers[(tiers.index(labels0[k]) + 1) % len(tiers)]
        delta.append((k, labels[k]))
    for k in late:
        labels[k] = tiers[int(rng.integers(len(tiers)))]
        delta.append((k, labels[k]))
    delta += [delta[int(i)] for i in rng.choice(len(delta), m["dup"], replace=False)]
    delta = [delta[int(i)] for i in rng.permutation(len(delta))]

    # entity-device link: one or two devices each, plus duplicate rows
    pairs = [(k, f"D{k[1:]}-{j}") for k in keys for j in range(1 + int(rng.random() < 0.3))]
    link_rows = pairs + [pairs[int(i)] for i in rng.choice(len(pairs), link_dups, replace=False)]

    # hub delta: unchanged and deleted keys, new keys, duplicates
    h = hub_mix
    gone = order[-h["deleted"]:]
    kept = order[-h["deleted"] - h["unchanged"] : -h["deleted"]]
    fresh = [f"E{e:06d}" for e in range(n_entities, n_entities + h["new"])]
    hub_rows = [(k, "U") for k in kept + fresh] + [(k, "D") for k in gone]
    hub_rows += [hub_rows[int(i)] for i in rng.choice(len(hub_rows), h["dup"], replace=False)]
    hub_rows = [hub_rows[int(i)] for i in rng.permutation(len(hub_rows))]

    files = {name: os.path.join(out_dir, f"{name}.parquet") for name in (
        "events", "entities", "labels_0", "links", "labels_1", "entities_1")}
    nbytes = _write(events, files["events"])
    nbytes += _write(pa.table({"entity": keys}), files["entities"])
    l0 = sorted(labels0.items())
    nbytes += _write(pa.table({"entity_key": [k for k, _ in l0], "entity": [k for k, _ in l0],
                               "label": [v for _, v in l0]}), files["labels_0"])
    nbytes += _write(pa.table({"entity": [k for k, _ in link_rows],
                               "device": [d for _, d in link_rows]}), files["links"])
    nbytes += _write(pa.table({"entity_key": [k for k, _ in delta], "entity": [k for k, _ in delta],
                               "label": [v for _, v in delta]}), files["labels_1"])
    nbytes += _write(pa.table({"entity": [k for k, _ in hub_rows],
                               "op": [o for _, o in hub_rows]}), files["entities_1"])

    def counts(read, dup=0, ins=0, upd=0, dele=0):
        return dict(read_count=read, duplicates=dup, inserts=ins, updates=upd, deletes=dele)

    label_sat = pa.table({
        "entity_id": [_md5_key("ent", k) for k in labels],
        "rectype": ["U" if k in updated else "I" for k in labels],
        "version": [2 if k in updated else 1 for k in labels],
        "entity": list(labels),
        "label": list(labels.values()),
    })
    hub_keys = keys + fresh
    deleted = set(gone)
    entity_hub = pa.table({
        "entity_id": [_md5_key("ent", k) for k in hub_keys],
        "natural_key": hub_keys,
        "rectype": ["D" if k in deleted else "I" for k in hub_keys],
        "version": [2 if k in deleted else 1 for k in hub_keys],
    })
    link = pa.table({
        "src_entity_id": [_md5_key("ent", k) for k, _ in pairs],
        "dst_entity_id": [_md5_key("dev", d) for _, d in pairs],
        "rectype": ["I"] * len(pairs),
        "version": [1] * len(pairs),
    })
    return {
        "files": files,
        "rows": n,
        "input_bytes": nbytes,
        "loads": {
            "entity_hub_0": counts(n_entities, ins=n_entities),
            "event_sat": counts(n, ins=n),
            "label_sat_0": counts(len(labels0), ins=len(labels0)),
            "entity_device_link": counts(len(link_rows), link_dups, ins=len(pairs)),
            "label_sat_1": counts(len(delta), m["dup"], ins=m["new"], upd=m["updated"]),
            "entity_hub_1": counts(len(hub_rows), h["dup"], ins=h["new"], dele=h["deleted"]),
        },
        "label_history_rows": len(labels0) + m["updated"] + m["new"],
        "current": {
            "label_sat": table_digest(label_sat, LABEL_CHECK_COLS),
            "entity_hub": table_digest(entity_hub, HUB_CHECK_COLS),
            "entity_device_link": table_digest(link, LINK_CHECK_COLS),
        },
        "expected": [feature_oracle(files, i) for i in range(len(ASOF_DAYS))],
    }


LABEL_CHECK_COLS = ["entity_id", "rectype", "version", "entity", "label"]
HUB_CHECK_COLS = ["entity_id", "natural_key", "rectype", "version"]
LINK_CHECK_COLS = ["src_entity_id", "dst_entity_id", "rectype", "version"]


def feature_oracle(files: dict, i: int) -> dict:
    """DuckDB recomputation of the feature table as of date `i`."""
    import duckdb

    t = asof_time(i)
    pivots = ",\n".join(
        f"arg_max(value, ts) FILTER (WHERE event_type = '{e}') AS f_{e}"
        for e in EVENT_TYPES
    )
    sql = f"""
    WITH ev AS (
        SELECT entity, event_type, ts::TIMESTAMP AS ts, value
        FROM read_parquet('{files["events"]}')
        WHERE ts::TIMESTAMP <= TIMESTAMP '{t}'
    ), gaps AS (
        SELECT *, epoch(ts) - epoch(lag(ts) OVER (PARTITION BY entity ORDER BY ts)) AS gap
        FROM ev
    ), feats AS (
        SELECT entity,
               count(*) FILTER (WHERE gap IS NULL OR gap > {SESSION_TIMEOUT_S})::BIGINT
                   AS n_sessions,
               string_agg(event_type, ',' ORDER BY ts, event_type) AS path,
               count(*) FILTER (WHERE ts >= TIMESTAMP '{t}' - INTERVAL 7 DAY)::BIGINT
                   AS n_events_7d,
               {pivots}
        FROM gaps GROUP BY entity
    ), labels AS (
        SELECT entity, label, TIMESTAMP '{label_time(0)}' AS start
        FROM read_parquet('{files["labels_0"]}')
        UNION ALL
        SELECT entity, label, TIMESTAMP '{label_time(1)}' AS start
        FROM read_parquet('{files["labels_1"]}')
    ), lab AS (
        SELECT entity, arg_max(label, start) AS label
        FROM labels WHERE start <= TIMESTAMP '{t}' GROUP BY entity
    )
    SELECT f.*, lab.label FROM feats f LEFT JOIN lab USING (entity)
    """
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.execute("SET threads = 1")
        table = con.execute(sql).fetch_arrow_table()
    finally:
        con.close()
    return table_digest(table, FEATURE_COLS)


# -- corpus_curate ------------------------------------------------------------

STOPWORDS = ["the", "and", "of", "to", "with", "that"]


def gen_corpus_curate(
    rng: np.random.Generator,
    out_dir: str,
    *,
    n_shards: int,
    originals: int,
    exact_dups: int,
    near_dups: int,
    short_docs: int,
    repetitive_docs: int,
) -> dict:
    """`n_shards` document shards with planted structure.

    Per shard: `originals` good documents (several lines of distinct
    pseudo-words with Gopher stopwords mixed in), `exact_dups` byte
    copies and `near_dups` copies with one word appended (5-gram
    Jaccard ~0.99 to the original), plus low-quality documents that
    fail the Gopher rules for certain: `short_docs` under 50 words and
    `repetitive_docs` made of one line repeated. About a third of the
    good documents carry an email address and/or a URL. Ids are shuffled
    within the shard, so the kept member of a duplicate cluster (its
    lowest id) may be an original or a copy."""
    vocab = _words(rng, 5000)

    def word() -> str:
        if rng.random() < 0.2:
            return STOPWORDS[int(rng.integers(len(STOPWORDS)))]
        return vocab[int(rng.integers(len(vocab)))]

    def line(n: int) -> str:
        return " ".join(word() for _ in range(n)) + "."

    def good_doc() -> tuple[str, int, int]:
        lines = [line(int(rng.integers(10, 18))) for _ in range(int(rng.integers(6, 10)))]
        n_email = n_url = 0
        r = rng.random()
        if r < 0.2:
            user = f"{vocab[int(rng.integers(len(vocab)))]}.{vocab[int(rng.integers(len(vocab)))]}"
            lines[int(rng.integers(len(lines)))] += f" write to {user}@example.com today."
            n_email = 1
        if 0.1 < r < 0.35:
            site = vocab[int(rng.integers(len(vocab)))]
            lines[int(rng.integers(len(lines)))] += f" see https://www.{site}.org/{word()} now."
            n_url = 1
        return "\n".join(lines), n_email, n_url

    shards = []
    for s in range(n_shards):
        docs: list[tuple[str, int, int, int, str]] = []  # text, cluster, email, url, kind
        for c in range(originals):
            text, ne, nu = good_doc()
            docs.append((text, c, ne, nu, "original"))
        for _ in range(exact_dups):
            src = docs[int(rng.integers(originals))]
            docs.append((src[0], src[1], src[2], src[3], "exact"))
        for _ in range(near_dups):
            src = docs[int(rng.integers(originals))]
            docs.append((src[0] + " " + vocab[int(rng.integers(len(vocab)))], src[1],
                         src[2], src[3], "near"))
        for _ in range(short_docs):
            docs.append((line(int(rng.integers(8, 30))), -1, 0, 0, "short"))
        for _ in range(repetitive_docs):
            docs.append(("\n".join([line(12)] * 8), -1, 0, 0, "repetitive"))
        ids = rng.permutation(len(docs)) + s * 100_000
        kept: dict[int, tuple[int, int, int]] = {}  # cluster -> (min id, email, url)
        for (text, cluster, ne, nu, kind), doc_id in zip(docs, ids):
            if cluster < 0:
                continue
            if cluster not in kept or doc_id < kept[cluster][0]:
                kept[cluster] = (int(doc_id), ne, nu)
        path = os.path.join(out_dir, f"shard_{s:02d}.parquet")
        order = np.argsort(ids)
        nbytes = _write(
            pa.table(
                {
                    "doc_id": pa.array([int(ids[i]) for i in order], pa.int64()),
                    "text": pa.array([docs[i][0] for i in order], pa.string()),
                }
            ),
            path,
        )
        curated = originals + exact_dups + near_dups
        shards.append(
            {
                "path": path,
                "rows": len(docs),
                "input_bytes": nbytes,
                "curated": curated,
                "kept_ids": sorted(v[0] for v in kept.values()),
                "kept_emails": sum(v[1] for v in kept.values()),
                "kept_urls": sum(v[2] for v in kept.values()),
            }
        )
    return {"shards": shards}
