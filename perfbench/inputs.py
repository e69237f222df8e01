"""Seeded benchmark inputs, built from source into the checkout's cache.

* Clip fixture: the seed selects the clip-id window ``[seed*N, seed*N + N)``
  of ``engine/synth.py``'s row generator, plus the ``clip_id_duplicate``
  rows inside the window, plus the gold-transcript table. The planting
  rules are modular in the clip id, so the planted shares hold for every
  window, and the expected verdicts follow in closed form from the same
  oracle SQL that ``engine/queries.py`` registers for the fixture.
* Leaf tables: small TPC-H-shaped ``lineitem``/``orders``/``part`` plus
  ``events``, ``documents`` and ``embeddings`` with the column types and
  value shapes of the repository's sf0.01 test tables, drawn from the seed.

Both are cached under ``<cache>/`` keyed by seed, size and a digest of the
generator sources, so a rerun with the same seed skips the build and a
change to the generator never reuses stale bytes.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from multiprocessing import get_context

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: files per clip fixture: enough splits that the scan spreads over 4 cores
CLIP_FILES = 16


def _digest(root: str, rels: list[str]) -> str:
    h = hashlib.sha1()
    for rel in rels:
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def _publish(tmp: str, final: str) -> None:
    """Atomic-rename a finished build into place (a crashed build leaves
    only a ``.tmp-*`` directory, never a half-written cache entry)."""
    if os.path.exists(final):
        shutil.rmtree(tmp)
    else:
        os.rename(tmp, final)


def clip_window(seed: int, n: int) -> tuple[int, int]:
    return seed * n, seed * n + n


def _clip_chunk(args: tuple[int, int, str]) -> None:
    from engine import synth

    lo, hi, path = args
    ids = np.arange(lo, hi, dtype=np.int64)
    # gen_clips' duplicate rows, restricted to this chunk of the window
    ids = np.concatenate([ids, ids[synth._hit(ids, "clip_id_duplicate")]])
    pdf = synth._gen_rows(ids)
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=_clips_arrow_schema(), preserve_index=False),
        path,
    )


def _clips_arrow_schema() -> pa.Schema:
    return pa.schema([
        ("clip_id", pa.string()), ("bytes", pa.binary()), ("sr_hz", pa.int32()),
        ("dur_ms", pa.int32()), ("codec", pa.string()), ("transcript", pa.string()),
    ])


def _transcripts(lo: int, hi: int) -> pa.Table:
    """``synth.gen_transcripts`` over the window: gold transcripts minus the
    dangling-FK plants, with the planted mismatches."""
    from engine import synth

    ids = np.arange(lo, hi, dtype=np.int64)
    ids = ids[~synth._hit(ids, "dangling_fk")]
    bad = synth._hit(ids, "transcript_mismatch")
    gold = [
        synth._transcript(int(i)) + (" xmismatchx" if m else "")
        for i, m in zip(ids, bad)
    ]
    return pa.table({
        "clip_id": [f"clip_{int(i):010d}" for i in ids],
        "transcript_gold": gold,
    })


def build_clips(root: str, cache: str, seed: int, n: int, procs: int) -> tuple[str, str]:
    """Ensure the clip fixture for ``seed`` exists; returns
    (clips_dir, transcripts_path)."""
    tag = _digest(root, ["engine/synth.py", "engine/flac.py"])
    final = os.path.join(cache, f"clips-{tag}-s{seed}-n{n}")
    clips_dir = os.path.join(final, "clips")
    tr_path = os.path.join(final, "transcripts.parquet")
    if os.path.isdir(final):
        return clips_dir, tr_path
    tmp = os.path.join(cache, f".tmp-{os.getpid()}-clips")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "clips"))
    lo, hi = clip_window(seed, n)
    bounds = np.linspace(lo, hi, CLIP_FILES + 1).astype(np.int64)
    jobs = [
        (int(a), int(b), os.path.join(tmp, "clips", f"part-{k:05d}.parquet"))
        for k, (a, b) in enumerate(zip(bounds[:-1], bounds[1:]))
    ]
    with get_context("spawn").Pool(procs) as pool:
        pool.map(_clip_chunk, jobs)
    pq.write_table(_transcripts(lo, hi), os.path.join(tmp, "transcripts.parquet"))
    _publish(tmp, final)
    return clips_dir, tr_path


def expected_verdicts(seed: int, n: int, with_audio: bool) -> dict[str, tuple[int, int]]:
    """Closed-form verdicts for the window: the planting-rule oracle SQL of
    ``engine/queries.py`` (``_CLIPS_FULL_ORACLE`` with the audio checks,
    ``_CLIPS_SUITE_ORACLE`` without) evaluated over the window's ids.
    Returns {constraint: (violation_count, rows_scanned)}."""
    import duckdb

    from engine import queries

    sql = queries._CLIPS_FULL_ORACLE if with_audio else queries._CLIPS_SUITE_ORACLE
    lo, hi = clip_window(seed, n)
    old = f"range(0, {queries._FIXTURE_N})"
    if sql.count(old) != 1:
        raise RuntimeError(f"fixture oracle no longer ranges over {old!r}")
    con = duckdb.connect()
    try:
        rows = con.sql(sql.replace(old, f"range({lo}, {hi})")).fetchall()
    finally:
        con.close()
    return {name: (int(vc), int(rs)) for name, vc, rs, _passed in rows}


# ---------------------------------------------------------------------------
# leaf tables
# ---------------------------------------------------------------------------

LEAF_TABLES = ("lineitem", "orders", "part", "events", "documents", "embeddings")
WORDS = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
_T0_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_D_1995 = np.datetime64("1995-01-01", "D")


def _days(rng, lo: int, hi: int, n: int) -> np.ndarray:
    return (_D_1995 + rng.integers(lo, hi, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _leaf_tables(seed: int, rows: dict[str, int]) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 7])
    n_li, n_o, n_p = rows["lineitem"], rows["orders"], rows["part"]
    n_ev, n_doc, n_emb = rows["events"], rows["documents"], rows["embeddings"]

    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = 900.0 + (np.arange(n_p) % 1000) / 10.0
    partkey = rng.integers(0, n_p, n_li)
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_o, n_li),
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, max(n_p // 20, 1), n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[partkey] * rng.uniform(0.9, 2.3, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _days(rng, 1, 2499, n_li),
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, max(n_o // 10, 1), n_o),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_o), 2),
        "o_orderdate": _days(rng, 0, 2404, n_o),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_o
        ),
    })
    adjectives = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
    nouns = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "spring"]
    part = pa.table({
        "p_partkey": np.arange(n_p, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adjectives, n_p), rng.choice(nouns, n_p))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_p)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n_p),
        "p_size": rng.integers(1, 51, n_p).astype(np.int32),
        "p_retailprice": price,
    })
    gaps_us = rng.exponential(259e6, n_ev).astype(np.int64) + 1
    events = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _T0_2024 + np.cumsum(gaps_us).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, n_ev),
        "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: what the dedup leaves find
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    documents = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return dict(lineitem=lineitem, orders=orders, part=part, events=events,
                documents=documents, embeddings=embeddings)


def build_leaf_tables(root: str, cache: str, seed: int, rows: dict[str, int]) -> str:
    """Ensure the leaf tables for ``seed`` exist (one parquet file each, one
    row group, like the test tables); returns their directory."""
    sizes = "-".join(str(rows[t]) for t in LEAF_TABLES)
    final = os.path.join(cache, f"leaves-{_digest(root, ['perfbench/inputs.py'])}-s{seed}-{sizes}")
    if os.path.isdir(final):
        return final
    tmp = os.path.join(cache, f".tmp-{os.getpid()}-leaves")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _leaf_tables(seed, rows).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    _publish(tmp, final)
    return final
