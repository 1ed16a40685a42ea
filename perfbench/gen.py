"""Seeded input generation for the benchmark workloads.

Every input is drawn from the sf0.1 sample committed under
``perfbench/data/`` (``events``, ``documents`` and ``embeddings``, copied
unchanged from the engine's sf0.1 test data) and is a pure function of
``(seed, size)``: the same pair writes the same rows, cached under
``<cache>/<kind>-s<seed>-<size>`` so repeated runs skip regeneration.
Generation runs in the parent process before the workload process starts,
so neither its time nor its memory lands in a measured metric.

- events: each wave is a seeded sample, without replacement, of the sf0.1
  ``events`` rows, kept in event-time order and re-keyed so event ids (the
  offsets a wave lands) continue from the previous wave. Users, event
  types, values, props and timestamps are sf0.1's own; per-user counts
  change from wave to wave. A wave is written as ``files_per_wave``
  contiguous event-id range files: one file is one micro-batch, which is
  what the T2 contiguity check needs.
- documents: a seeded sample of whole near-duplicate families of the sf0.1
  corpus (a family is a connected component of 3-shingle Jaccard >= 0.2
  or equal text, so sampling keeps sf0.1's duplicate structure), then
  inflated ``mult`` times with ``tools/inflate_testdata.py``'s scheme:
  copy k rewrites ' the ' to ' the{k} ' and shifts ``doc_id`` by k strides.
- embeddings: the whole sf0.1 ``embeddings`` table, inflated the same way
  (copy k adds k*3e-4 to every component), plus seeded query batches:
  sf0.1 vectors drawn without replacement, as the boarded ``ext_ivf_topk``
  queries with corpus vectors, under ids above every ``vec_id``.

``run.py`` calls ``generate``.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# Sizes are fixed per workload; the seed is the only input that varies.
EVENTS = {"waves": 40, "events_per_wave": 12_000, "files_per_wave": 3}
DOCUMENTS = {"base_docs": 1_000, "mult": 2}
EMBEDDINGS = {"mult": 2, "batches": 30, "queries_per_batch": 8}

# 3-shingle sets as the engine's SQL oracles build them (lower-cased,
# whitespace-normalised word trigrams); a family is a connected component
# of Jaccard >= 0.2 pairs plus equal-text pairs.
PAIRS_SQL = r"""
WITH toks AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
              FROM docs),
sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= 3
         THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
         ELSE [] END)) AS sh FROM toks),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS n
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT i.a, i.b FROM inter i JOIN sizes x ON x.doc_id = i.a JOIN sizes y ON y.doc_id = i.b
WHERE i.n / (x.n + y.n - i.n) >= 0.2
UNION
SELECT a.doc_id, b.doc_id FROM docs a JOIN docs b ON a.text = b.text AND a.doc_id < b.doc_id
"""


def _duckdb(threads: int):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    return con


def _events(out: str, seed: int, threads: int) -> None:
    p = EVENTS
    rng = np.random.default_rng(seed)
    src = pq.read_table(os.path.join(DATA, "events.parquet"))
    src = src.take(pc.sort_indices(src, [("event_id", "ascending")]))
    src = src.set_column(src.schema.get_field_index("ts"), "ts",
                         src.column("ts").cast(pa.timestamp("us", tz="UTC")))
    n = p["events_per_wave"]
    per_file = n // p["files_per_wave"]
    for w in range(p["waves"]):
        wdir = os.path.join(out, f"wave={w:03d}")
        os.makedirs(wdir)
        rows = np.sort(rng.choice(src.num_rows, n, replace=False))
        table = src.take(pa.array(rows))
        table = table.set_column(0, "event_id", pa.array(np.arange(w * n, (w + 1) * n, dtype=np.int64)))
        for f in range(p["files_per_wave"]):
            lo = f * per_file
            hi = n if f == p["files_per_wave"] - 1 else lo + per_file
            pq.write_table(table.slice(lo, hi - lo), os.path.join(wdir, f"part-{f}.parquet"))


def families(con) -> dict[int, int]:
    """doc_id -> family id (the family's smallest doc_id) over the
    documents of view ``docs`` (doc_id, text)."""
    parent = {d: d for (d,) in con.execute("SELECT doc_id FROM docs").fetchall()}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in con.execute(PAIRS_SQL).fetchall():
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in parent}


def _documents(out: str, seed: int, threads: int) -> None:
    p = DOCUMENTS
    src = os.path.join(DATA, "documents.parquet")
    con = _duckdb(threads)
    con.execute(f"CREATE VIEW docs AS SELECT doc_id, text FROM '{src}'")
    family = families(con)
    roots = sorted(set(family.values()))
    members: dict[int, list[int]] = {r: [] for r in roots}
    for d, r in family.items():
        members[r].append(d)
    picked: list[int] = []
    for r in np.random.default_rng(seed).permutation(roots):
        if len(picked) >= p["base_docs"]:
            break
        picked.extend(members[int(r)])
    stride = len(family)  # sf0.1 doc ids are 0 .. n-1
    ids = ",".join(map(str, sorted(picked)))
    # tools/inflate_testdata.py's documents perturbation, verbatim in effect
    rewritten = "CASE WHEN k = 0 THEN text ELSE replace(text, ' the ', ' the' || k || ' ') END"
    con.execute(
        f"""COPY (SELECT doc_id + k * {stride} AS doc_id, {rewritten} AS text,
                         lang, source, CAST(length({rewritten}) AS BIGINT) AS n_chars
                  FROM (SELECT * FROM '{src}' WHERE doc_id IN ({ids})), range({p['mult']}) r(k)
                  ORDER BY doc_id)
            TO '{os.path.join(out, 'documents.parquet')}' (FORMAT PARQUET)"""
    )


def _embeddings(out: str, seed: int, threads: int) -> None:
    p = EMBEDDINGS
    src = os.path.join(DATA, "embeddings.parquet")
    base = pq.read_table(src)
    stride = base.num_rows  # sf0.1 vec ids are 0 .. n-1
    con = _duckdb(threads)
    con.execute(
        f"""COPY (SELECT vec_id + k * {stride} AS vec_id,
                         CASE WHEN k = 0 THEN embedding
                              ELSE CAST(list_transform(embedding, x -> x + k * 0.0003) AS FLOAT[])
                         END AS embedding, label
                  FROM '{src}', range({p['mult']}) r(k) ORDER BY vec_id)
            TO '{os.path.join(out, 'embeddings.parquet')}' (FORMAT PARQUET)"""
    )
    nq = p["batches"] * p["queries_per_batch"]
    pick = np.random.default_rng(seed).choice(stride, nq, replace=False)
    first_id = stride * p["mult"]
    pq.write_table(
        pa.table(
            {
                "query_id": np.arange(first_id, first_id + nq, dtype=np.int64),
                "batch": np.repeat(np.arange(p["batches"], dtype=np.int64), p["queries_per_batch"]),
                "embedding": base.column("embedding").take(pa.array(pick)),
            }
        ),
        os.path.join(out, "queries.parquet"),
    )


_KINDS = {"events": (_events, EVENTS), "documents": (_documents, DOCUMENTS), "embeddings": (_embeddings, EMBEDDINGS)}


def generate(cache: str, kind: str, seed: int, threads: int) -> str:
    """Write (or reuse) the inputs for ``kind`` at ``seed``; return their dir."""
    fn, size = _KINDS[kind]
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    out = os.path.join(cache, f"{kind}-s{seed}-{tag}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    fn(out, seed, threads)
    with open(os.path.join(out, "_DONE"), "w") as fh:
        json.dump({"kind": kind, "seed": seed, "size": size}, fh)
    return out
