"""Output checks, run after the timed units; none issues a Spark job.

Each check returns ``(name, ok, detail, unit)``: ``unit`` names the
operation a failure is charged to, so a failed check counts that
operation as failed.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen
from workloads import _parquet_rows


def _con(threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    return con


def etl_checks(w, threads: int) -> list[tuple]:
    """Per-wave row conservation bronze = conformed = staging = generated,
    after every rerun; and the final Type-2 dimension against a DuckDB
    recomputation from the generated wave files."""
    out = []
    d = w.d
    for rec in w.waves:
        gen = _parquet_rows(os.path.join(w.inputs, f"wave={rec['wave']:03d}"))
        bronze = sum(_parquet_rows(p) for p in rec["bronze_dirs"])
        conformed = _parquet_rows(os.path.join(
            d["conformed"], f"create_date={rec['date']}", "source_file_name=events"))
        staging = _parquet_rows(os.path.join(d["staging"], f"create_job_run_id={rec['staging_run']}"))
        ok = gen == bronze == conformed == staging == rec["records"]
        out.append((f"wave{rec['wave']}_conservation", ok,
                    f"generated={gen} bronze={bronze} conformed={conformed} staging={staging}",
                    rec["unit"]))
    con = _con(threads)
    files = [os.path.join(w.inputs, f"wave={r['wave']:03d}", "*.parquet") for r in w.waves]
    expected = con.execute(
        """WITH c AS (SELECT wave, user_id, COUNT(*) AS n
                      FROM read_parquet(?, hive_partitioning = true)
                      GROUP BY ALL),
                l AS (SELECT *, lag(n) OVER (PARTITION BY user_id ORDER BY wave) AS prev FROM c)
           SELECT user_id, SUM(CASE WHEN prev IS NULL OR prev <> n THEN 1 ELSE 0 END) AS versions,
                  arg_max(n, wave) AS cur_n
           FROM l GROUP BY user_id ORDER BY user_id""",
        [files],
    ).fetchall()
    got = con.execute(
        f"""SELECT user_id, COUNT(*) AS versions,
                   MAX(n_events) FILTER (WHERE record_status = '1') AS cur_n
            FROM read_parquet('{w.dim_path}/*.parquet')
            GROUP BY user_id
            HAVING COUNT(*) FILTER (WHERE record_status = '1') = 1
            ORDER BY user_id"""
    ).fetchall()
    n_versions = sum(r[1] for r in expected)
    out.append(("dim_type2_recomputed", got == expected,
                f"users={len(expected)} versions={n_versions} engine_users={len(got)}",
                w.waves[-1]["unit"]))
    return out


def _digest(path: str, threads: int) -> str:
    """md5 over the sorted rows of a parquet output."""
    rows = _con(threads).execute(
        f"SELECT * FROM read_parquet('{path}/*.parquet') ORDER BY ALL").fetchall()
    return hashlib.md5(repr(rows).encode()).hexdigest()


def exact_topk(emb_path: str, queries: np.ndarray, qvec: np.ndarray, k: int) -> set:
    """Exact cosine top-k with ``similarity.cosine_topk``'s semantics:
    double arithmetic, cosine rounded to 6 places, ties to the lower id."""
    t = pq.read_table(emb_path)
    ids = t.column("vec_id").to_numpy()
    e = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    e_n = e / np.linalg.norm(e, axis=1, keepdims=True)
    out = set()
    for qid, v in zip(queries, qvec.astype(np.float64)):
        cos = np.round(e_n @ (v / np.linalg.norm(v)), 6)
        top = np.lexsort((ids, -cos))[:k]
        out.update((int(qid), int(ids[i])) for i in top)
    return out


def _oracles(docs_path: str, threads: int) -> dict:
    """The engine's exact SQL oracles (the boarded exact twins of the two
    LSH queries) evaluated by DuckDB over the pass's corpus: the canonical
    keep-list at the LSH keep-list's threshold (0.5), and the full and
    canonical decontamination reports (threshold 0.2)."""
    from kafka_etl_automation_spark.plans import extensions as ext

    if ext._CANONICAL_ORACLE.count(">= 0.2") != 1:
        raise RuntimeError("keep-list oracle drifted: expected one '>= 0.2' threshold")
    con = _con(threads)
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs_path}'")
    keep = con.execute(ext._CANONICAL_ORACLE.replace(">= 0.2", ">= 0.5")).fetchall()
    full = con.execute(f"SELECT eval_doc_id, max_jaccard FROM ({ext._DECONTAM_ORACLE})").fetchall()
    return {"keep": dict(keep), "full": dict(full), "canon": _canonical_contaminated(con, ext._BUCKET)}


def _canonical_contaminated(con, bucket: str) -> set:
    """Eval doc ids of ``ext_decontamination_canonical``'s report, from the
    same pair graph as its SQL oracle (3-shingle Jaccard >= 0.2 plus
    equal-text edges; train = content bucket < 90): keep the smallest id
    of each train component, then flag eval docs paired with a kept one.
    The oracle's recursive CTE gives the same set but took 5.5 s a run."""
    train = dict(con.execute(f"SELECT doc_id, {bucket} < 90 FROM documents").fetchall())
    con.execute(f"CREATE OR REPLACE VIEW docs AS SELECT doc_id, text FROM documents WHERE {bucket} < 90")
    kept = set(gen.families(con).values())
    con.execute(f"""CREATE OR REPLACE VIEW docs AS SELECT doc_id, text FROM documents
                    WHERE NOT ({bucket} < 90) OR doc_id IN ({','.join(map(str, kept))})""")
    return {a if not train[a] else b for a, b in con.execute(gen.PAIRS_SQL).fetchall()
            if train[a] != train[b]}


def _ivf_oracle(emb_path: str, queries_path: str, batch: int, threads: int) -> set:
    """(query_id, neighbor_id) of the boarded ``ext_ivf_topk`` SQL oracle
    (k-means build, 2-probe search, top-5; every step deterministic in
    both engines) with the pass's query batch in place of its corpus-vector
    queries."""
    from kafka_etl_automation_spark.plans import extensions as ext

    sql = ext._IVF_ORACLE
    for old, new in (
        ("WITH v AS (", "WITH q AS (SELECT query_id AS vec_id, CAST(embedding AS DOUBLE[]) AS e "
                        f"FROM '{queries_path}' WHERE batch = {batch}), v AS ("),
        ("FROM v, c2 c WHERE v.vec_id < 8)", "FROM q AS v, c2 c )"),
    ):
        if sql.count(old) != 1:
            raise RuntimeError(f"IVF oracle drifted: expected one {old!r}")
        sql = sql.replace(old, new)
    con = _con(threads)
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{emb_path}'")
    return {(q, n) for q, n, _cos, _rank in con.execute(sql).fetchall()}


LSH_RECALL_FLOOR = 0.95  # as tests/test_operators.py pins at sf0.01


def corpus_checks(w, threads: int, pinned_file: str, key: str) -> tuple[list[tuple], float]:
    """Each pass's outputs against the engine's exact oracles: the LSH
    keep-list only splits exact clusters (every exact keep id kept, never
    more merges) and reaches 95 % of the exact merges; every contaminated
    eval document it reports is a true match no closer than the exact
    report says, and it finds 95 % of the exact canonical report; keep-list
    membership sums to the corpus. The digests of both outputs must equal
    those pinned for the input in ``pinned_file``; an input without a
    pinned digest reports its digests as unpinned. IVF: the pass's batch
    is answered in full (every query, 5 neighbours each) and the answers
    equal the engine's IVF SQL oracle. Returns the checks and the IVF
    recall@5 against the exact (brute-force) top-5, a reported figure."""
    out = []
    with open(pinned_file) as fh:
        pinned = json.load(fh).get(key)
    oracle = _oracles(w.docs_path, threads)
    exact_merges = w.n_docs - len(oracle["keep"])
    con = _con(threads)
    q = pq.read_table(w.queries_path).to_pandas()
    got, exact = set(), set()
    for i, o in enumerate(w.outputs):
        keep = dict(con.execute(
            f"SELECT keep_id, n_members FROM read_parquet('{o['keep']}/*.parquet')").fetchall())
        members = sum(keep.values())
        merges = w.n_docs - len(keep)
        out.append((f"pass{i}_keep_members", members == w.n_docs,
                    f"sum(n_members)={members} docs={w.n_docs}", i))
        ok = set(oracle["keep"]) <= set(keep) and merges <= exact_merges and (
            merges >= LSH_RECALL_FLOOR * exact_merges)
        out.append((f"pass{i}_keep_vs_exact", ok,
                    f"clusters={len(keep)} exact={len(oracle['keep'])} merges={merges} "
                    f"exact_merges={exact_merges}", i))
        contam = dict(con.execute(
            f"SELECT eval_doc_id, max_jaccard FROM read_parquet('{o['contam']}/*.parquet')").fetchall())
        precise = all(d in oracle["full"] and j <= oracle["full"][d] + 1e-12 for d, j in contam.items())
        found = len(set(contam) & oracle["canon"])
        ok = precise and found >= LSH_RECALL_FLOOR * len(oracle["canon"])
        out.append((f"pass{i}_contam_vs_exact", ok,
                    f"flagged={len(contam)} true={precise} found={found} of exact={len(oracle['canon'])}",
                    i))
        digests = {"keep": _digest(o["keep"], threads), "contam": _digest(o["contam"], threads)}
        if pinned is None:
            out.append((f"pass{i}_digests", True, f"unpinned {json.dumps(digests)}", i))
        else:
            out.append((f"pass{i}_digests", digests == pinned, json.dumps(digests), i))
        batch = q[q["batch"] == i]
        answers: dict = {}
        for qid, nid in o["answers"]:
            answers.setdefault(qid, set()).add(nid)
        complete = set(answers) == set(batch["query_id"]) and all(len(v) == 5 for v in answers.values())
        out.append((f"pass{i}_search_answered", complete,
                    f"queries={len(answers)} of {len(batch)}, "
                    f"neighbours={sorted({len(v) for v in answers.values()})}", i))
        pairs = {(qid, n) for qid, ns in answers.items() for n in ns}
        ivf = _ivf_oracle(w.emb_path, w.queries_path, i, threads)
        out.append((f"pass{i}_search_vs_oracle", pairs == ivf,
                    f"answers={len(pairs)} oracle={len(ivf)} common={len(pairs & ivf)}", i))
        got |= pairs
        exact |= exact_topk(w.emb_path, batch["query_id"].to_numpy(),
                            np.stack(batch["embedding"].to_numpy()), 5)
    return out, len(got & exact) / max(1, len(exact))
