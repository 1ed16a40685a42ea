"""Deduplication operators for large-scale text corpora.

Four strategies, all shared-nothing / shuffle-keyed (no driver collects, no
unbanded cross joins), so they scale to 100 TB by adding executors:

- exact_dedup:      hash-groupBy on a content fingerprint. One shuffle.
- ngram_jaccard:    exact all-pairs n-gram Jaccard via an inverted-index
                    self-join. Correct but O(sum of posting-list^2) — the
                    small-corpus baseline and the verifier for MinHash.
- minhash_lsh:      MinHash signatures + banded LSH. The 100 TB path:
                    candidate generation is linear in corpus size, pairs
                    only materialize inside buckets.
- simhash:          64-bit SimHash + chunk-banded Hamming candidates.

Everything is pure Catalyst expressions (xxhash64, explode, groupBy) — no
Python in the hot path. Determinism: all hash seeds are literals, so
signatures are reproducible across runs/partitionings.
"""

from __future__ import annotations

import logging
import os
import threading
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_etl_automation_spark.session import observation_or_none

_LOG = logging.getLogger(__name__)

# Async eager-count bookkeeping (guide §2.6 — overlap independent jobs):
# each entry is (thread, holder) where holder carries any exception the
# count raised, re-raised at settle time so failures are never swallowed.
_PENDING_COUNTS: list = []

# Source-size ceiling below which the collapse's cache-materialization
# count may run CONCURRENTLY with the pipeline's next construction job
# instead of blocking it. Rationale: the eager counts exist so the static
# planner sees MEASURED InMemoryRelation sizes before any derived frame
# lands on a broadcast build side; for a file-backed corpus at most this
# size, every derived narrow frame (grp / members: 16-24 B/doc vs the
# source's full text rows) is itself far under the session's 64 MiB
# autoBroadcastJoinThreshold, so a broadcast picked from an unmaterialized
# ESTIMATE is safe regardless of the race. Past the ceiling (octave
# ladders, real clusters) the counts stay sequential-eager — there they
# are real data-plane work, not fixed overhead, and the measured-stats
# ordering is load-bearing. Matches session.py's broadcast threshold.
_SMALL_SOURCE_BYTES = 64 * 1024 * 1024


def _local_input_bytes(df: DataFrame) -> int | None:
    """Total stat-able local file bytes behind ``df``'s scan, or None when
    the frame has no trustworthy local file source (in-memory relations,
    RDD-backed plans, remote schemes). Driver-side listing only — zero
    Spark jobs. Shared by scale_partition_floor and the small-source
    fast paths."""
    total = 0
    try:
        from urllib.parse import unquote, urlparse

        for uri in df.inputFiles():
            parsed = urlparse(uri)
            if parsed.scheme in ("file", ""):
                try:
                    total += os.path.getsize(unquote(parsed.path))
                except OSError:
                    pass
            else:
                return None  # non-local scheme: no trustworthy size
    except Exception:
        return None
    return total if total > 0 else None


def _eager_count(frame: DataFrame, overlap: bool) -> None:
    """Materialize a persisted frame via ``count()`` — inline, or on a
    daemon thread when ``overlap`` (the small-source regime above). Async
    counts MUST be settled via :func:`_settle_async_counts` before the
    constructed pipeline is returned to the caller, so downstream actions
    always plan against fully-measured caches — the overlap window is the
    pipeline's own construction-time jobs (audit collects, CC rounds)."""
    if not overlap:
        frame.count()
        return
    holder: dict = {}

    def _run() -> None:
        try:
            frame.count()
        except BaseException as exc:  # re-raised at settle
            holder["exc"] = exc

    t = threading.Thread(target=_run, name="graft-async-count", daemon=True)
    t.start()
    _PENDING_COUNTS.append((t, holder))


def _settle_async_counts() -> None:
    """Join every in-flight async count, re-raising the first failure."""
    first_exc = None
    while _PENDING_COUNTS:
        t, holder = _PENDING_COUNTS.pop()
        t.join()
        if first_exc is None and "exc" in holder:
            first_exc = holder["exc"]
    if first_exc is not None:
        raise first_exc


# Every frame the operators persist (collapse maps, LSH signature and
# banded frames, curation corpus frames), oldest first. The cap is the
# sum of the two earlier per-module caps (collapse 4 + corpus 6): the
# largest live set one entry point builds is decontaminate_canonical_lsh's
# 7 frames, so no single call evicts its own caches.
_CACHES: list = []
_CACHE_CAP = 10


def _spill_level(cached_mem_bytes: int, max_heap_bytes: int):
    """Pick the storage level for the NEXT persisted frame: once the
    already-cached bytes crowd the unified storage pool (~30% of heap at
    the default spark.memory.fraction), further caches go straight to
    DISK_ONLY instead of competing with 32 concurrent column builders
    for storage memory (VERDICT r10 #5: at the 2700x octave the
    corpus-signature cache build OOM'd a 32g local driver — local mode
    concentrates every task's builder plus the whole storage pool in one
    JVM; on a real cluster the same cache is partitioned across
    executors, so this guard only ever bites in local mode or on a
    genuinely undersized executor). Pure function for testability."""
    from pyspark import StorageLevel

    if cached_mem_bytes > 0.30 * max_heap_bytes:
        return StorageLevel.DISK_ONLY
    return StorageLevel.MEMORY_AND_DISK


def _persist(frame: DataFrame) -> DataFrame:
    """Persist ``frame`` into the bounded operator-cache registry.

    - A frame whose plan is already cached (an equal plan persisted by an
      earlier call) comes back as is and is not registered again:
      evicting the older entry would unpersist the cache this caller
      reads.
    - Otherwise the oldest entries are evicted BEFORE appending, so the
      live set never exceeds ``_CACHE_CAP`` even mid-call (ADVICE r08).
      Evicted frames stay correct; they recompute on their next action.
    - The level is MEMORY_AND_DISK, or DISK_ONLY past the
      ``_spill_level`` storage-pressure probe.
    - It never counts. A caller whose frame must be materialized before
      planning (measured InMemoryRelation stats, the r09
      BroadcastOverGenerate class) calls ``.count()`` itself.
    """
    from pyspark import StorageLevel

    if frame.storageLevel != StorageLevel.NONE:
        return frame
    while len(_CACHES) >= _CACHE_CAP:
        _release(_CACHES[0])
    level = StorageLevel.MEMORY_AND_DISK
    try:
        sc = frame.sparkSession.sparkContext
        # memSize + diskSize (ADVICE r11): memSize alone counts only blocks
        # currently RESIDENT in memory, so once earlier caches spill the
        # probe re-armed MEMORY_AND_DISK in exactly the saturated regime it
        # targets. Disk-resident bytes overcount storage-POOL pressure, but
        # the guard is local-mode-only and the conservative direction
        # (going DISK_ONLY a frame early) costs a re-read, not an OOM.
        cached = sum(
            i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()
        )
        heap = int(sc._jvm.java.lang.Runtime.getRuntime().maxMemory())
        level = _spill_level(cached, heap)
        if level != StorageLevel.MEMORY_AND_DISK:
            _LOG.warning(
                "operator cache: %.1f GiB already cached vs %.1f GiB heap — "
                "persisting the next frame DISK_ONLY to keep the storage "
                "pool from evicting/OOMing mid-build",
                cached / 2**30,
                heap / 2**30,
            )
    except Exception:  # storage telemetry is best-effort, never fatal
        pass
    out = frame.persist(level)
    _CACHES.append(out)
    return out


def _release(frame: DataFrame) -> bool:
    """Unpersist ``frame`` AND drop it from the registry (ADVICE r11: an
    out-of-band unpersist left the dead entry registered, shrinking the
    effective cap and double-unpersisting on eviction). Returns whether
    the frame was registered."""
    tracked = any(c is frame for c in _CACHES)
    _CACHES[:] = [c for c in _CACHES if c is not frame]
    try:
        frame.unpersist(False)
    except Exception:
        pass
    return tracked


def release_caches() -> int:
    """Unpersist every frame the operators registered via ``_persist``.

    Call after materializing the result of an operator pipeline
    (minhash_lsh_pairs, simhash_near_pairs, the dedup and curation
    pipelines) to return its cached partitions; re-running the result
    afterwards stays correct — it recomputes. Without a call the registry
    still evicts oldest-first past ``_CACHE_CAP``, so a long-lived session
    stays bounded either way (ADVICE r05). Returns the number of frames
    released.
    """
    n = len(_CACHES)
    while _CACHES:
        _release(_CACHES[-1])
    return n


def normalized_text(col: Column | str) -> Column:
    """Lowercase + whitespace-collapse + trim — the canonical form every
    dedup strategy fingerprints."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def tokens(col: Column | str) -> Column:
    return F.split(normalized_text(col), " ")


def shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array<string>.

    1-indexed element_at matches ANSI array semantics so an external SQL
    oracle can reproduce the exact shingle set.

    Documents with fewer than n tokens yield an empty array. The guard must
    be an explicit when(): sequence(1, 0) in Spark is the DESCENDING array
    [1, 0], and element_at(t, 0) then raises INVALID_ARRAY_INDEX_IN_ELEMENT_AT
    — one short doc would abort the whole job.
    """
    t = tokens(col)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(t, (i + j).cast("int")) for j in range(n)]
        ),
    )
    return F.array_distinct(
        F.when(F.size(t) >= n, grams).otherwise(F.array().cast("array<string>"))
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by md5 of normalized content.

    Output: (fingerprint, canonical_id = min id, n_copies). Keep the row
    whose id == canonical_id to dedup. Single hash-shuffle; at 100 TB the
    fingerprint is computed scan-side so only (fp, id) shuffles, not text.
    """
    return (
        df.select(F.md5(normalized_text(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_copies"),
        )
    )


def _jvm_num_partitions(df: DataFrame) -> int:
    """Partition count via the JVM Dataset — df.rdd would build the full
    javaToPython serializer pipeline per call (VERDICT r02 minor #5).
    PRIVATE API (df._jdf), pinned against pyspark 4.1.x; Dataset.rdd exists
    on the JVM Dataset in every 3.x/4.x release. Any drift raises and
    _fanout_rebalance falls back to the portable probe —
    tests/test_operators.py asserts the fallback decides identically
    (VERDICT r03 #8)."""
    return df._jdf.rdd().getNumPartitions()


def _fanout_rebalance(df: DataFrame) -> DataFrame:
    """Scale parallelism UP before a CPU-multiplying stage (shingle/token
    explode ~100x the row count and hashes every shingle). A small parquet
    input scans as few partitions (one file => one task), which would
    single-thread the whole pipeline; round-robin repartition to the
    cluster's core count first. Guarded: never reduces partitioning, so a
    100 TB corpus that already scans wide passes through untouched."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        nparts = _jvm_num_partitions(df)
    except Exception:  # private-API drift -> the portable (slower) probe
        nparts = df.rdd.getNumPartitions()
    if nparts < target:
        return df.repartition(target)
    return df


def _exploded_shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, sh): each document's DISTINCT n-gram shingle strings, one row
    per shingle — the exploded form of ``shingles()`` with the identical
    value set, built without the higher-order transform() lambda: slice +
    arrays_zip assemble the token tuples as native codegen array
    expressions, array_distinct dedups the tuples in-array (distinct
    structs == distinct gram strings: tokens carry no spaces, so the
    space-join is bijective), and the string is concatenated POST-explode
    inside whole-stage codegen. Interpreted HOF lambdas cost ~25µs per
    gram (see winnowing_fingerprints / _shingle_hash_rows); this path
    feeds the exact-Jaccard verifiers whose gram volume is corpus-sized.
    Zero exchange: explode never splits a document across partitions.
    Equality with shingles() is pinned by
    tests/test_operators.py::test_exploded_shingles_matches_shingles."""
    toks = tokens(text_col)
    base = (
        _fanout_rebalance(df)
        .select(
            F.col(id_col).alias("id"),
            toks.alias("tk"),
            (F.size(toks) - (n - 1)).alias("m"),
        )
        .filter(F.col("m") >= 1)
    )
    z = F.arrays_zip(
        *[F.slice("tk", i + 1, F.col("m")).alias(f"t{i}") for i in range(n)]
    )
    return base.select("id", F.explode(F.array_distinct(z)).alias("s")).select(
        "id",
        F.concat_ws(" ", *[F.col("s")[f"t{k}"] for k in range(n)]).alias("sh"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs above threshold.

    Inverted-index self-join: explode distinct shingles, join docs sharing a
    shingle (id_a < id_b to halve the space), count intersections, compute
    |A∩B| / (|A|+|B|-|A∩B|). Integer-ratio division keeps the score
    bit-identical across engines.

    Scale: posting lists for very common shingles explode quadratically —
    at 100 TB use minhash_lsh_pairs and keep this as the verifier on
    candidate pairs only.
    """
    # every join side below is corpus-sized (posting lists / per-doc size
    # counts) but Generate-derived, so its size ESTIMATE collapses and the
    # planner would broadcast it — hint shuffle_hash everywhere (the
    # BroadcastOverGenerate class; see the r09 containment incident)
    ex = _exploded_shingles(df, text_col, id_col, n)
    sizes = ex.groupBy("id").agg(F.count("*").alias("n_sh")).hint("shuffle_hash")

    a, b = ex.alias("a"), ex.hint("shuffle_hash").alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_inter", "jaccard")
    )


def _shingle_hash_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    carry: dict[str, Column] | None = None,
) -> DataFrame:
    """(id, sh): one row per n-gram occurrence, sh = xxhash64 over the n
    token columns of each n-gram (one fixed-width hash per shingle, no
    string built), entirely from native codegen expressions, zero
    exchange.

    Why not HOF: transform/element_at lambdas are interpreted, not
    whole-stage-codegen'd — profiling showed ~25µs per shingle, 14s for
    a 5k-doc corpus, dominating the minhash pipeline.

    Formulation history (all three value-identical, pinned by
    tests/test_operators.py::test_shingle_hash_rows_formulations):
    - r07: posexplode + window leads — paid one (id)-keyed shuffle AND a
      per-id sort to line the tokens up; the full token stream rode that
      exchange.
    - r08: slice x n + arrays_zip — zero exchange (the explode never
      splits a document across partitions, so groupBy("id") partial-
      aggregates map-side), but it copied the token array n times and
      built a struct array per document BEFORE the explode; that
      array-build constant cost ~26% at bench SF even though it beat
      the r07 shuffle at the octaves.
    - r09 (shipped): explode(sequence(1, m)) + element_at(tk, p+k) —
      zero exchange AND zero copies: in whole-stage codegen the Generate
      keeps `tk` as a per-input-row variable, so each exploded position
      indexes the ORIGINAL token array; the only array built per doc is
      a cheap long sequence. Same-day A/B (min-of-two, noop sink, full
      64-min signature aggregation downstream): sf0.1 lead-window
      0.975s / slice+zip 1.182s / this 0.982s; 300x octave 11.34s /
      9.26s / 9.09s — dominant at both ends. The cost relation is also
      pinned by the shingle-formulation rows in tools/stage_bench.py so
      a future swap can't regress silently.

    Duplicates are retained — min/collect_set downstream are duplicate-
    insensitive; docs with fewer than n tokens emit no rows.
    """
    toks = tokens(text_col)
    extra = [c.alias(name) for name, c in (carry or {}).items()]
    extra_names = list((carry or {}).keys())
    base = (
        _fanout_rebalance(df)
        .select(
            F.col(id_col).alias("id"),
            *extra,
            toks.alias("tk"),
            (F.size(toks) - (n - 1)).alias("m"),
        )
        .filter(F.col("m") >= 1)
    )
    return base.select(
        "id", *extra_names, "tk",
        F.explode(F.sequence(F.lit(1), F.col("m"))).alias("p"),
    ).select(
        "id",
        *extra_names,
        F.xxhash64(
            *[F.element_at("tk", (F.col("p") + k).cast("int")) for k in range(n)]
        ).alias("sh"),
    )


def signature_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    carry: dict[str, Column] | None = None,
) -> DataFrame:
    """The per-document frame minhash_lsh_pairs builds internally: one row
    per doc with BOTH the exact-verification shingle-hash set (``sh``,
    array<long>) and the full MinHash signature (``mh0..mh{k-1}``), built
    in ONE explode + ONE aggregation (the k mins and the collect_set
    combine map-side, so the shuffle carries one row per doc).

    Public so multi-pass pipelines can sign a corpus ONCE and feed several
    LSH passes via ``minhash_lsh_pairs(sig_source=...)`` — e.g.
    decontaminate_canonical_lsh's keep-list pass (train rows) and
    cross-split pass (kept ∪ eval rows) are both filters over one shared
    signed frame instead of two full shingle+hash builds over overlapping
    corpora (VERDICT r07 #2). Documents with fewer than n tokens yield no
    row, same as the inline build.

    ``carry`` (r13): extra per-document columns — each a Column over
    ``df``'s row that is CONSTANT per document (e.g. a content-keyed
    split label) — carried through the gram explode and reduced with
    ``first()`` in the same per-doc aggregation. first() is
    deterministic here ONLY because the value is per-group constant
    (the F.first("_nl") invariant); the alternative was a corpus-wide
    id-keyed JOIN of the signed frame against a label projection — one
    full extra shuffle of the signed frame at any scale (guide §2.4).
    The carried column rides the zero-exchange explode and the map-side
    partial combine, so it never crosses a shuffle at gram volume."""
    rows = _shingle_hash_rows(df, text_col, id_col, n, carry=carry)
    return rows.groupBy("id").agg(
        F.collect_set("sh").alias("sh"),
        *[
            F.min(F.xxhash64(F.lit(j), F.col("sh"))).alias(f"mh{j}")
            for j in range(num_hashes)
        ],
        *[F.first(name).alias(name) for name in (carry or {})],
    )


def _exact_text_collapse(
    df: DataFrame, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """Collapse exact-duplicate texts to their min-id representative.

    Returns ``(reps, members)``: ``reps`` keeps one original-schema row per
    distinct text; ``members`` maps ``rep -> member`` for EVERY input id
    (reps map to themselves). Group identity is (length, xxhash64) of the
    raw text — same collision class (~N²/2⁶⁴) the shingle hashing already
    accepts.

    Why this exists: near-dup candidate generation is quadratic in
    bucket occupancy, and real crawl corpora carry exact-duplicate
    clusters (boilerplate pages, mirrored docs) whose members share
    identical signatures — so every LSH family degenerates to
    |cluster|² candidate pairs that verification then re-proves are
    identical. The 100x scale-proof measured exactly that
    (ext_minhash_lsh 6.6s at 30x -> 51s at 100x while data grew 3.3x:
    dup clusters grew 30 -> 100 members, pairs ~11x). Collapsing first
    makes candidate generation quadratic only in DISTINCT-text
    co-occurrence; the member fan-back is linear in output size, which
    is the floor for pair-emitting semantics.

    Plan shape (skew-safe by construction): the group key reduces to a
    16-byte (member, len, hash) frame before any shuffle — raw text
    never rides a text-keyed exchange, so a 10M-member dup cluster is a
    hot key of 16-byte rows, not of documents; no collect_list arrays
    anywhere. reps filters via an id-keyed semi-join (uniform keys).
    """
    kl, kh = F.length(F.col(text_col)), F.xxhash64(F.col(text_col))
    keyed = df.select(
        F.col(id_col).alias("member"), kl.alias("_kl"), kh.alias("_kh")
    )
    # grp is one row per DISTINCT TEXT — corpus-sized, and its static
    # size ESTIMATE collapses through the narrow projection, which would
    # put it on a broadcast build side at any SF (the
    # BroadcastOverGenerate class, r09). Persist + eager count instead:
    # a MATERIALIZED InMemoryRelation reports its measured size, so the
    # planner broadcasts it exactly when it truly fits (small corpora)
    # and never when it doesn't.
    grp = _persist(keyed.groupBy("_kl", "_kh").agg(F.min("member").alias("rep")))
    # (no count here: members' eager count below materializes grp
    # transitively — one materialization job, two measured caches)
    # members feeds BOTH sides of the cross expansion and both sides of
    # the within self-join (4 references) — persist or the whole collapse
    # pipeline (document scan included) re-executes per reference. Two
    # longs per doc: a sliver at any scale.
    members = _persist(keyed.join(grp, ["_kl", "_kh"]).select("rep", "member"))
    # Eager, same reason — but for a provably-small file-backed source the
    # count runs CONCURRENTLY with the pipeline's next construction job
    # (guide §2.6; see _SMALL_SOURCE_BYTES for why the stats race is safe
    # there) and is settled before the constructed pipeline returns. At
    # bench SF this removes one full sequential job per collapse-backed
    # query; at octave/cluster scale behavior is unchanged.
    size = _local_input_bytes(df)
    _eager_count(members, overlap=size is not None and size <= _SMALL_SOURCE_BYTES)
    reps = df.join(
        grp.select(F.col("rep").alias(id_col)), id_col, "semi"
    )
    return reps, members


# max_bucket="auto" budget: allowed candidate emissions per banded row
# before the skew guard engages (see minhash_lsh_pairs docstring). 64 is
# ~6x the measured worst real corpus (2700x adversarial dup-dense: 11.4
# emissions/row uncapped) while a single boilerplate bucket of 100k
# mutually-dissimilar docs (5e9 emissions against a small corpus's ~1e6
# banded rows) exceeds it by orders of magnitude.
_AUTO_WORK_PER_ROW = 64

# Flood fail-fast (VERDICT r11 #5): estimated narrow candidate rows in the
# grouped-once verify shuffle above which a single-disk local run under the
# default lz4 codec risks ENOSPC (measured r11: ~1.3e9 narrow rows at 2700x
# needed zstd to complete on one disk; 900x's ~4e8 did not). Only enforced
# for local[...] masters — a multi-disk cluster shrugs at these bytes.
_FLOOD_NARROW_ROWS = 800_000_000
# partition escalation target: ~12.5M narrow rows (~500 MB raw) per
# reduction task keeps each hash table / spill run comfortably in memory
_FLOOD_ROWS_PER_PARTITION = 12_500_000

# Cap-audit skip bound (r13 fast path): with an explicit int cap and no
# stats probe, the bucket-size histogram is skipped when the WORST-CASE
# kept emission volume (banded_rows x (cap-1) / 2) sits at or under this
# bound — then the flood policy is settled conservatively (worst case is
# already under the ENOSPC ceiling) and the largest kept bucket is
# bounded by min(cap, banded_rows). Equal to the flood ceiling, but a
# separate constant so tests can exercise the full-audit path without
# also tripping the flood abort.
_AUDIT_SKIP_MAX_WORST = _FLOOD_NARROW_ROWS


def _flood_escalation(
    kept_work: int, master: str, codec: str, cur_partitions: int
) -> tuple[str, object] | None:
    """Plan-time flood policy for the grouped verify shuffle (VERDICT r11
    #5) — pure for testability. The cap audit's kept emission count is
    known BEFORE enumeration, so a run that would ENOSPC a single-disk
    local box 10 minutes in can abort NOW naming the exact knobs
    (spark.io.compression.codec is immutable after session start), and a
    run that merely needs more reduction tasks gets them automatically
    (shuffle partitions ARE runtime-settable; AQE coalesces small
    partitions back, so sub-flood plans are untouched).

    Returns ``("abort", message)``, ``("raise_partitions", n)``, or None.
    """
    if kept_work <= _FLOOD_NARROW_ROWS:
        return None
    if master.startswith("local") and codec == "lz4":
        return (
            "abort",
            f"minhash_lsh_pairs: ~{kept_work:,} narrow candidate rows will "
            "ride the grouped verify shuffle — past the single-disk lz4 "
            f"ENOSPC ceiling (~{_FLOOD_NARROW_ROWS:,}, measured "
            "BENCH_SCALE.md r11). Restart the session with "
            "SPARK_GRAFT_IO_CODEC=zstd (halves shuffle bytes; "
            "SPARK_GRAFT_SHUFFLE_PARTITIONS is then raised automatically), "
            "or cap the flood (max_bucket=<int>) if these buckets are "
            "boilerplate",
        )
    want = min(2048, max(cur_partitions, kept_work // _FLOOD_ROWS_PER_PARTITION))
    if want > cur_partitions:
        return ("raise_partitions", want)
    return None


# Scale-adaptive shuffle-partition floor (guide §2: partitioning must
# derive from input size, not a constant tuned for either local mode or
# the cluster). ~2 MiB of source parquet per shuffle partition anchors to
# the measured working point: the 2700x octave's 1.2 GB documents table
# ran the canonical pipelines at 32 GB heap with 512 partitions (r11,
# BENCH_SCALE.md) = 2.3 MiB/partition, while 32 partitions — the local
# default — OOMs the pass-2 corpus materialization at that octave (r12:
# Java heap space in the corpus cache build). Gate/bench SFs sit far
# below the floor (sf0.1 documents ≈ 2 MB -> want 1), so their plans and
# walls are untouched; AQE coalesces any over-partitioned small stage
# right back.
_SCALE_BYTES_PER_PARTITION = 2 * 1024 * 1024
_SCALE_PARTITION_CAP = 2048


def _partition_floor(input_bytes: int, cur_partitions: int) -> int | None:
    """Pure sizing rule: partitions the input's heavy shuffles want, or
    None when the current setting already suffices. Never lowers."""
    want = min(_SCALE_PARTITION_CAP, input_bytes // _SCALE_BYTES_PER_PARTITION)
    return int(want) if want > cur_partitions else None


# First-raise snapshot of spark.sql.shuffle.partitions, keyed by Spark
# application id: scale_partition_floor / the flood escalation raise the
# conf session-sticky (the floored PIPELINE executes lazily, so the raise
# must outlive the builder call), but a STREAMING query started later in
# the same session must not inherit it — streaming gets no AQE coalescing,
# and a 2048-partition state-store stage overflows
# spark.driver.maxResultSize (the r12 incident; ADVICE r12 medium). The
# streaming builders call restore_shuffle_partitions() before starting
# their query; the next batch-pipeline entry re-derives its floor from its
# own input size, so nothing is lost.
_PRE_RAISE_PARTITIONS: dict[str, str] = {}


def _remember_pre_raise_partitions(spark, cur: int) -> None:
    _PRE_RAISE_PARTITIONS.setdefault(spark.sparkContext.applicationId, str(cur))


def restore_shuffle_partitions(spark) -> int | None:
    """Restore ``spark.sql.shuffle.partitions`` to its value before the
    first scale_partition_floor / flood-escalation raise of this session.
    No-op when nothing was ever raised. Returns the restored value."""
    prev = _PRE_RAISE_PARTITIONS.pop(spark.sparkContext.applicationId, None)
    if prev is None:
        return None
    spark.conf.set("spark.sql.shuffle.partitions", prev)
    _LOG.warning(
        "restore_shuffle_partitions: restoring spark.sql.shuffle.partitions "
        "to the pre-floor value %s before a streaming query (streaming has "
        "no AQE coalescing; batch pipelines re-derive their floor per call)",
        prev,
    )
    return int(prev)


def scale_partition_floor(df: DataFrame) -> int | None:
    """Raise ``spark.sql.shuffle.partitions`` to a floor derived from
    ``df``'s file-source scan size, session-sticky, never lowering.

    Replaces the SPARK_GRAFT_SHUFFLE_PARTITIONS env folklore for the
    octave ladders: every corpus-scale pipeline entry calls this BEFORE
    its first wide stage, so per-task state (signature-cache unroll, join
    builds, sort runs) shrinks with corpus growth automatically instead
    of requiring the operator to know the magic number. Input size comes
    from the driver-side file listing (``df.inputFiles`` + stat for
    ``file:`` URIs — zero Spark jobs). Frames with no stat-able local file
    source (in-memory relations, RDD-backed plans, remote schemes) are
    left alone: Catalyst's fallback ``sizeInBytes`` is NOT a usable proxy
    here — it defaults to ``Long.MaxValue`` for RDD-backed plans and
    multiplies children for joins, so trusting it once leaked a sticky
    2048-partition conf into a test session and broke unrelated streaming
    queries (no AQE coalescing there) with 2048-task state-store stages
    overflowing ``spark.driver.maxResultSize``. Returns the new floor or
    None.
    """
    spark = df.sparkSession
    total = _local_input_bytes(df)
    if total is None:
        return None  # no stat-able file source -> leave the conf alone
    try:
        # conf read inside the fail-safe too (ADVICE r12): a non-numeric
        # or unreadable session value must degrade to the documented
        # leave-the-conf-alone no-op, not raise out of the operator
        cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        return None
    want = _partition_floor(total, cur)
    if want is not None:
        _remember_pre_raise_partitions(spark, cur)
        spark.conf.set("spark.sql.shuffle.partitions", str(want))
        _LOG.warning(
            "scale_partition_floor: raising spark.sql.shuffle.partitions "
            "%d -> %d for a ~%.1f GB file-source corpus (sticky for this "
            "session; AQE coalesces small partitions back)",
            cur,
            want,
            total / 2**30,
        )
    return want


def _expand_member_pairs(
    rep_pairs: DataFrame,
    members: DataFrame,
    surviving_reps: DataFrame,
    score_col: str,
    identical_score,
    include_within: bool = True,
) -> DataFrame:
    """Fan verified representative pairs back out to member pairs.

    - cross-group: every (a in A, b in B) inherits the rep pair's score —
      identical texts have identical signatures, so each member pair
      co-buckets exactly when its rep pair does;
    - within-group: all (a < b) member pairs of a multi-member group score
      ``identical_score`` (Jaccard 1.0 / Hamming 0), emitted only when the
      group's rep still has a surviving signature/bucket (mirrors the
      original semantics where signature-less or fully-capped docs emit
      nothing). ``include_within=False`` drops this leg — the bipartite
      contract, where same-text members share a content-keyed label and
      identity pairs are same-label by construction.
    Both joins are keyed and output-linear.
    """
    ma = members.select(F.col("rep").alias("id_a"), F.col("member").alias("_a"))
    mb = members.select(F.col("rep").alias("id_b"), F.col("member").alias("_b"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("_a", "_b").alias("id_a"),
            F.greatest("_a", "_b").alias("id_b"),
            F.col(score_col),
        )
    )
    p, q = members.alias("p"), members.alias("q")
    within = (
        p.join(
            q,
            (F.col("p.rep") == F.col("q.rep"))
            & (F.col("p.member") < F.col("q.member")),
        )
        .join(
            surviving_reps.select(F.col("id").alias("rep")), "rep", "semi"
        )
        .select(
            F.col("p.member").alias("id_a"),
            F.col("q.member").alias("id_b"),
            identical_score.alias(score_col),
        )
    )
    return cross.unionByName(within) if include_within else cross


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket: int | str | None = "auto",
    collapse_exact: bool = True,
    stats: dict | None = None,
    candidate_scope: str = "all",
    bipartite=None,
    content_keyed: bool = False,
    sig_source: DataFrame | None = None,
    bipartite_col: str | None = None,
    members: DataFrame | None = None,
    verify: str | None = None,
    max_labels: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs ``(id_a < id_b, jaccard)`` via MinHash + banded
    LSH, verified with exact Jaccard over the 64-bit shingle-hash sets so
    the output has no false positives beyond hash-collision odds
    (~|sh|²/2⁶⁴ per pair — negligible and deterministic; recall is the
    probabilistic part, ~ 1-(1-t^r)^b).

    This function validates, collapses, and fans out; the work runs in five
    named stages: ``_lsh_signatures`` (inputs and signatures),
    ``_lsh_banded`` (banding), ``_lsh_cap_audit`` (cap audit and policy),
    ``_lsh_candidates`` (candidate enumeration), and ``_lsh_verify_pairs``
    / ``_lsh_verify_grouped`` (verification).

    ``candidate_scope``:
      - ``"all"`` (default): every in-bucket pair is a candidate — C(c,2)
        per bucket. The PAIR-REPORT contract (ext_minhash_lsh).
      - ``"star"``: only (bucket-min, member) edges — c-1 per bucket, no
        self-join. The CLUSTERING contract: connected components over star
        edges equal those over all edges whenever each bucket's members
        are similar to its min (dup families are star/clique-shaped); a
        chain a~b~c whose ends meet only through b in a single bucket can
        split, so star trades a little recall for candidate counts LINEAR
        in corpus size (what makes ext_dedup_canonical_lsh
        documents-linear). Precision is unchanged.

    ``bipartite``: optional Column over ``df``'s columns (e.g.
    ``text.hash_split("text")``). Only candidates whose two sides DIFFER
    on this label are emitted — output-identical for cross-split
    decontamination, minus the within-split quadratic bulk. Mutually
    exclusive with ``candidate_scope="star"``. With ``collapse_exact`` the
    label is evaluated once per distinct-text rep, which is exact only for
    content-determined labels — attest that with ``content_keyed=True``.
    ``max_labels``: caller attestation that the label takes at most this
    many distinct values; with 2 (the hash_split contracts) grouped
    verification skips its within-rest-block branch at plan time.

    ``sig_source`` (shared-signature mode): a pre-built
    ``signature_sets`` frame ``(id, sh, mh0..mh{num_hashes-1})``; the
    caller owns collapse (``members`` for the fan-out) and labels
    (``bipartite_col``, a column on ``sig_source``).

    ``verify`` (default ``None`` = contract-aware: ``"pairs"`` for star,
    ``"grouped"`` otherwise — the crossover measured in BENCH_SCALE.md
    round 10):
      - ``"pairs"``: distinct candidate pairs re-join both signature sets.
        Wins when distinct candidates per doc are few (star); its verify
        shuffle is quadratic in bucket occupancy otherwise.
      - ``"grouped"``: each kept bucket member ships its hash set once per
        membership (<= bands copies per doc) into one row per bucket;
        enumeration emits NARROW candidates (ids plus a bit-packed
        (band, block, i, j) location), a hash aggregate reduces each pair
        to its minimum co-occurring band, and exact Jaccard runs once per
        distinct pair against that bucket row. Needs ``bands <= 256``
        (validated) and kept buckets under 2^27 members (checked against
        the audit at plan time). Value-identical to ``"pairs"`` — pinned
        by tests/test_operators.py::test_grouped_verify_matches_pairs.
    The measured history of the removed r10 per-band and r11
    struct-reduction control shapes is in BENCH_SCALE.md (r10/r11) and
    OPTIMIZATION_r12.md.

    ``max_bucket`` is a SKEW GUARD, not a free parameter — a bucket is
    dropped wholesale when it overflows, and at duplicate-heavy corpora the
    overflowing buckets ARE the duplicate families (BENCH_SCALE.md r11
    cap-recall: a fixed 1000 cost 50% of true merges at 2700x).
      - ``"auto"`` (default): the bucket-size audit measures the uncapped
        candidate-emission volume BEFORE enumeration; up to
        ``_AUTO_WORK_PER_ROW`` (64) emissions per banded row the run is
        uncapped. Past that budget (boilerplate floods of dissimilar docs)
        the largest cap whose kept volume fits is chosen, with a WARN.
      - ``None``: explicitly uncapped.
      - an ``int``: a hard cap; size it ABOVE the expected duplicate
        family size. The audit WARNs on any bite whenever the worst-case
        kept volume — banded_rows x (cap-1)/2 — exceeds the flood
        ceiling; below that bound the histogram job is skipped and a
        biting cap is NOT warned — pass ``stats=`` or use ``"auto"`` for
        always-audited runs.
    Grouped verification also applies the flood policy
    (``_flood_escalation``) to the audited kept volume.

    ``collapse_exact`` (default on) runs the pipeline on DISTINCT texts
    only and fans verified pairs back out to members
    (`_exact_text_collapse`): identical texts have identical signatures, so
    the expansion reproduces the same pairs and scores while candidate
    generation stops being quadratic in exact-dup-cluster size.
    ``max_bucket`` then counts distinct texts per bucket.

    ``stats``: optional dict, filled with the audit's numbers and the
    distinct candidate count (one extra job; tools/dedup_probe.py).
    """
    if candidate_scope not in ("all", "star"):
        raise ValueError(
            f"candidate_scope must be 'all' or 'star', got {candidate_scope!r}"
        )
    if verify is None:
        verify = "pairs" if candidate_scope == "star" else "grouped"
    if verify not in ("pairs", "grouped"):
        raise ValueError(f"verify must be 'pairs' or 'grouped', got {verify!r}")
    if verify == "grouped" and bands > 256:
        raise ValueError(
            f"verify='grouped' packs the band id into 8 bits: bands must be "
            f"<= 256, got {bands}"
        )
    if isinstance(max_bucket, str):
        if max_bucket != "auto":
            raise ValueError(
                f"max_bucket must be 'auto', None (uncapped), or an int >= 2; "
                f"got {max_bucket!r}"
            )
    elif max_bucket is not None and max_bucket < 2:
        raise ValueError(f"max_bucket must be >= 2, got {max_bucket}")
    if max_labels is not None:
        # Opt-in, never inferred: a wrong attestation silently drops
        # cross-label pairs among non-min labels.
        if bipartite is None and bipartite_col is None:
            raise ValueError("max_labels is only meaningful with a bipartite label")
        if max_labels < 2:
            raise ValueError(f"max_labels must be >= 2, got {max_labels}")
    if candidate_scope == "star" and bipartite is not None:
        raise ValueError(
            "candidate_scope='star' and bipartite are mutually exclusive: "
            "star edges all touch the bucket min regardless of label"
        )
    if sig_source is not None:
        if collapse_exact:
            raise ValueError(
                "sig_source requires collapse_exact=False: the caller owns "
                "collapse (pass members= for the fan-out)"
            )
        if bipartite is not None:
            raise ValueError(
                "sig_source requires bipartite=None: put the label on the "
                "signed frame and name it via bipartite_col"
            )
        # Fail fast on a mis-built shared frame (ADVICE r08): extra mh
        # columns would silently band over a subset (changed recall), and
        # a missing `sh` only surfaces deep in the verification join.
        cols = set(sig_source.columns)
        missing = {"id", "sh", *(f"mh{j}" for j in range(num_hashes))} - cols
        if missing:
            raise ValueError(
                f"sig_source is missing columns {sorted(missing)}; expected "
                f"the signature_sets schema for num_hashes={num_hashes}"
            )
        if f"mh{num_hashes}" in cols:
            raise ValueError(
                f"sig_source carries mh{num_hashes}+ columns — it was built "
                f"with more hashes than num_hashes={num_hashes}; banding "
                "over a subset would silently change recall"
            )
    elif bipartite_col is not None or members is not None:
        raise ValueError("bipartite_col/members are only valid with sig_source")
    if bipartite_col is not None and candidate_scope == "star":
        raise ValueError(
            "candidate_scope='star' and bipartite_col are mutually exclusive: "
            "star edges all touch the bucket min regardless of label"
        )
    if bipartite is not None and collapse_exact and not content_keyed:
        # A row-identity label (source column, doc id parity, ...) would
        # silently mislabel collapsed members and drop identity pairs —
        # the caller attests content-determinism explicitly (ADVICE r07).
        raise ValueError(
            "bipartite with collapse_exact=True requires content_keyed=True: "
            "the label must be a pure function of the text column (e.g. "
            "text.hash_split) so exact-duplicate members inherit their "
            "rep's label correctly; pass collapse_exact=False for "
            "row-identity labels"
        )

    if sig_source is None:
        # Size the shuffle floor from the source scan BEFORE the first
        # wide stage — the exact-collapse groupBy and its eager member
        # count are corpus-scale shuffles too (ADVICE r12).
        scale_partition_floor(df)
    if collapse_exact:
        df, members = _exact_text_collapse(df, text_col, id_col)
    src, band_src, band_cols = _lsh_signatures(
        df, text_col, id_col, n, num_hashes, bipartite, sig_source, bipartite_col
    )
    rows = num_hashes // bands
    banded = _lsh_banded(
        band_src,
        band_cols,
        [
            F.xxhash64(*[F.col(f"mh{bid * rows + r}") for r in range(rows)])
            for bid in range(bands)
        ],
    )
    audit = _lsh_cap_audit(
        banded, band_cols, candidate_scope, max_bucket, full=stats is not None
    )
    sized, banded_ok, cand = _lsh_candidates(
        banded, band_cols, candidate_scope, audit.eff_cap
    )
    if stats is not None:
        # Probe instrumentation (tools/dedup_probe.py): the bucket numbers
        # come from the audit (no extra job); only candidates_distinct
        # costs a probe-only pass.
        _cap_stats(stats, audit)
        stats["candidates_distinct"] = cand.count()
    if verify == "grouped":
        verified = _lsh_verify_grouped(
            sized, src, band_src, band_cols, candidate_scope, threshold,
            max_labels, audit,
        )
    else:
        verified = _lsh_verify_pairs(cand, src, threshold)
    # Construction done: any async collapse count launched above has had
    # the audit/count job to overlap with — block here so the caller's
    # first action plans against fully-measured caches.
    _settle_async_counts()
    if members is None:
        return verified
    # jaccard(S, S) = n/n, exactly 1.0 in IEEE — same value the
    # uncollapsed verify computes for an identical-text pair
    return _expand_member_pairs(
        verified,
        members,
        banded_ok.select("id").distinct(),
        "jaccard",
        F.lit(1.0),
        include_within=not band_cols,
    )


def _lsh_signatures(
    df: DataFrame | None,
    text_col: str,
    id_col: str,
    n: int,
    num_hashes: int,
    bipartite,
    sig_source: DataFrame | None,
    bipartite_col: str | None,
) -> tuple[DataFrame, DataFrame, list[str]]:
    """LSH stage 1 — inputs and signatures. Returns ``(src, band_src,
    band_cols)``: ``src`` is the one-row-per-doc ``(id, sh, mh0..)`` frame
    (``sig_source``, or built here and persisted — it feeds banding and
    both verification sides); ``band_src`` is ``src`` carrying the
    bipartite label as ``_lbl``; ``band_cols`` is ``["_lbl"]`` when there
    is a label, else ``[]``."""
    # (id, label) projection for bipartite filtering, taken AFTER collapse —
    # sound only for content-determined labels (identical texts share a
    # label, so the rep's label is every member's). Joined onto the
    # one-row-per-doc src pre-explode so banded rows carry it for free.
    lbl = (
        df.select(F.col(id_col).alias("id"), bipartite.alias("_lbl"))
        if bipartite is not None
        else None
    )
    if sig_source is not None:
        # the caller owns sig_source's persistence (typically a filter over
        # one persisted signed frame feeding several passes)
        src = sig_source
    else:
        # (materialized transitively by the audit job: banded derives from
        # src, so one job measures both caches)
        src = _persist(signature_sets(df, text_col, id_col, n, num_hashes))
    if lbl is not None:
        return src, src.join(lbl, "id"), ["_lbl"]
    if bipartite_col is not None:
        # label already rides the signed frame — no join, no extra scan
        band_src = (
            src
            if bipartite_col == "_lbl"
            else src.withColumnRenamed(bipartite_col, "_lbl")
        )
        return src, band_src, ["_lbl"]
    return src, src, []


def _lsh_banded(
    band_src: DataFrame, carry: list[str], keys: list[Column]
) -> DataFrame:
    """LSH stage 2 — banding: one ``(id, carry..., band, bkey)`` row per
    doc per band, ``bkey`` = the band's key Column (``keys[band]``) —
    minhash passes xxhash64 of each band's rows of mins, simhash its
    fingerprint chunks. Persisted: it feeds the audit, bucket sizing, and
    both self-join sides — a narrow sliver of corpus size at any scale."""
    bb = [F.struct(F.lit(b).alias("band"), k.alias("bkey")) for b, k in enumerate(keys)]
    return _persist(
        band_src.select("id", *carry, F.explode(F.array(*bb)).alias("bb")).select(
            "id", *carry, F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey")
        )
    )


class _CapAudit(NamedTuple):
    """LSH stage 3's record: the cap in force and what it keeps/drops."""

    eff_cap: int | None  # applied bucket cap; None = uncapped
    kept_work: int  # candidate emissions in kept buckets (narrow rows)
    max_kept: int  # largest kept bucket (bounds the packed indices)
    banded_rows: int
    dropped_buckets: int
    dropped_emissions: int


def _cap_stats(stats: dict, audit: _CapAudit) -> None:
    """Fill the six cap-audit ``stats`` keys both LSH families report."""
    stats["bucket_join_work"] = audit.kept_work
    stats["max_bucket_size"] = audit.max_kept
    stats["dropped_buckets"] = audit.dropped_buckets
    stats["dropped_emissions"] = audit.dropped_emissions
    stats["effective_max_bucket"] = audit.eff_cap
    stats["banded_rows"] = audit.banded_rows


def _bucket_size_histogram(
    banded: DataFrame, band_cols: list[str], candidate_scope: str
) -> list[tuple[int, int, int]]:
    """Sorted ``(bucket size, #buckets, doubled emissions)`` rows — one per
    DISTINCT bucket size, so the collect is bounded. Emission work is
    contract-exact (r12): star emits c-1 edges, all-pairs C(c,2), and the
    bipartite block-split only cross-label pairs — C(c,2) minus the
    per-label within sums. Carried doubled (c*(c-1) is always even) so the
    histogram stays integer."""
    if candidate_scope == "star":
        per_bucket = banded.groupBy("band", "bkey").agg(
            F.count(F.lit(1)).alias("count"),
            (2 * (F.count(F.lit(1)) - 1)).alias("w2"),
        )
    elif band_cols:
        c = F.sum("lc")
        per_bucket = (
            banded.groupBy("band", "bkey", "_lbl")
            .agg(F.count(F.lit(1)).alias("lc"))
            .groupBy("band", "bkey")
            .agg(
                c.alias("count"),
                (c * (c - 1) - F.sum(F.col("lc") * (F.col("lc") - 1))).alias(
                    "w2"
                ),
            )
        )
    else:
        c = F.count(F.lit(1))
        per_bucket = banded.groupBy("band", "bkey").agg(
            c.alias("count"), (c * (c - 1)).alias("w2")
        )
    hist = (
        per_bucket.groupBy("count")
        .agg(F.count(F.lit(1)).alias("nb"), F.sum("w2").alias("w2"))
        .collect()
    )
    return sorted((int(r["count"]), int(r["nb"]), int(r["w2"])) for r in hist)


def _lsh_cap_audit(
    banded: DataFrame,
    band_cols: list[str],
    candidate_scope: str,
    max_bucket: int | str | None,
    full: bool,
) -> _CapAudit:
    """LSH stage 3 — cap audit and policy, run BEFORE enumeration. Its one
    job also materializes the ``banded``/``src`` caches, so later joins
    plan against measured sizes (the r09 BroadcastOverGenerate class).

    Resolves ``max_bucket="auto"`` against the bucket-size histogram and
    WARNs when the skew guard engages or an explicit cap drops buckets.
    Fast path (VERDICT r12 #1): an explicit int cap without ``full``
    replaces the histogram with a plain count when the worst-case kept
    volume — banded_rows x (cap-1)/2 — sits under ``_AUDIT_SKIP_MAX_WORST``;
    the flood policy is then settled conservatively and the largest kept
    bucket is bounded by min(cap, banded_rows). A biting cap is not WARNed
    there; every corpus where a cap has measurably bitten (900x/2700x)
    exceeds the bound and takes the full audit."""
    if isinstance(max_bucket, int) and not full:
        banded_rows = banded.count()
        worst_kept = banded_rows * (max_bucket - 1) // 2
        if worst_kept <= _AUDIT_SKIP_MAX_WORST:
            return _CapAudit(
                eff_cap=max_bucket,
                kept_work=worst_kept,  # upper bound, <= the flood ceiling
                max_kept=min(max_bucket, banded_rows),
                banded_rows=banded_rows,
                dropped_buckets=0,  # unknown on this path (no WARN possible)
                dropped_emissions=0,
            )
    sizes = _bucket_size_histogram(banded, band_cols, candidate_scope)
    banded_rows = sum(c * nb for c, nb, _ in sizes)
    total_work = sum(w2 for _, _, w2 in sizes) // 2
    eff_cap = max_bucket  # int (hard cap) or None (uncapped)
    if max_bucket == "auto":
        # Scale-free budget: linear-in-corpus work (duplicate families
        # included — their members grow the denominator) stays UNCAPPED,
        # so a fixed cap below family size cannot discard true merges
        # under defaults (the r11 2700x failure); only in-bucket quadratic
        # growth past the budget engages the guard, at the largest cap
        # whose kept volume fits.
        budget = _AUTO_WORK_PER_ROW * banded_rows
        if total_work <= budget:
            eff_cap = None
        else:
            acc, eff_cap = 0, sizes[0][0] if sizes else 2
            for c, _nb, w2 in sizes:
                acc += w2 // 2
                if acc > budget:
                    break
                eff_cap = c
            _LOG.warning(
                "LSH cap audit: max_bucket='auto' engaged the skew "
                "guard at cap=%d — uncapped candidate volume %d emissions "
                "(%.1f per banded row) exceeds the budget of %.0f per "
                "banded row x %d rows. If this corpus's large buckets are "
                "TRUE duplicate families (not boilerplate collisions), "
                "pass max_bucket=None to keep them — grouped verification "
                "keeps uncapped floods executable (BENCH_SCALE.md r11)",
                eff_cap,
                total_work,
                total_work / max(banded_rows, 1),
                _AUTO_WORK_PER_ROW,
                banded_rows,
            )
    kept = [(c, w2) for c, _, w2 in sizes if eff_cap is None or c <= eff_cap]
    kept_work = sum(w2 for _, w2 in kept) // 2
    dropped_buckets = (
        0 if eff_cap is None else sum(nb for c, nb, _ in sizes if c > eff_cap)
    )
    if dropped_buckets > 0 and not isinstance(max_bucket, str):
        _LOG.warning(
            "LSH cap audit: max_bucket=%d dropped %d flooded bucket(s) "
            "= %d candidate emissions before verification. The output cost "
            "grows with duplicate multiplicity: measured 0%% of merges at "
            "300x, 0.5%% at 900x, but 50%% at 2700x — where true dup "
            "families outgrew the cap and the dropped buckets WERE the dup "
            "families (BENCH_SCALE.md cap-recall). Size max_bucket above "
            "the expected duplicate family size, or lift the cap if this "
            "corpus needs those pairs",
            eff_cap,
            dropped_buckets,
            total_work - kept_work,
        )
    return _CapAudit(
        eff_cap=eff_cap,
        kept_work=kept_work,
        max_kept=max((c for c, _ in kept), default=0),
        banded_rows=banded_rows,
        dropped_buckets=dropped_buckets,
        dropped_emissions=total_work - kept_work,
    )


def _bucket_sized(banded: DataFrame, eff_cap: int | None) -> DataFrame:
    """``banded`` with its bucket size ``bsz``, less the buckets over
    ``eff_cap`` (None keeps all). A count window, not groupBy + join-back:
    the window's one (band, bkey) exchange is exactly the partitioning the
    self-join needs, so the filter is map-side relative to it (the
    agg+join formulation re-scanned the banded frame twice — measured 3x
    slower at sf0.1)."""
    from pyspark.sql import Window

    sized = banded.withColumn(
        "bsz", F.count(F.lit(1)).over(Window.partitionBy("band", "bkey"))
    )
    return sized if eff_cap is None else sized.filter(F.col("bsz") <= eff_cap)


def _lsh_candidates(
    banded: DataFrame,
    band_cols: list[str],
    candidate_scope: str,
    eff_cap: int | None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """LSH stage 4 — candidate enumeration under the audited cap. Returns
    ``(sized, banded_ok, cand)``: ``sized`` is ``banded`` with its bucket
    size ``bsz`` (and, for star, the bucket min ``bmin``), capped;
    ``banded_ok`` the surviving ``(id, band, bkey)`` rows; ``cand`` the
    distinct ``(id_a < id_b)`` candidates — star edges, all in-bucket
    pairs, or (with a label) cross-label pairs only. Sizing is
    ``_bucket_sized``'s count window."""
    from pyspark.sql import Window

    if candidate_scope == "star":
        wb = Window.partitionBy("band", "bkey")
        # (bucket-min, member) edges ride the SAME window exchange the size
        # filter pays — no self-join stage; bmin < id orders the pair free.
        sized = banded.withColumn("bsz", F.count(F.lit(1)).over(wb)).withColumn(
            "bmin", F.min("id").over(wb)
        )
        if eff_cap is not None:
            sized = sized.filter(F.col("bsz") <= eff_cap)
        banded_ok = sized.select("id", "band", "bkey")
        cand = (
            sized.filter(F.col("id") != F.col("bmin"))
            .select(F.col("bmin").alias("id_a"), F.col("id").alias("id_b"))
            .distinct()
        )
        return sized, banded_ok, cand
    sized = _bucket_sized(banded, eff_cap)
    banded_ok = sized.select("id", *band_cols, "band", "bkey")
    x, y = banded_ok.alias("x"), banded_ok.alias("y")
    join_cond = (
        (F.col("x.band") == F.col("y.band"))
        & (F.col("x.bkey") == F.col("y.bkey"))
        & (F.col("x.id") < F.col("y.id"))
    )
    if band_cols:
        # Cross-label-only contract: same-label pairs never leave the
        # join, removing the within-label (e.g. train-train) share — the
        # quadratic bulk — before distinct.
        join_cond = join_cond & (F.col("x._lbl") != F.col("y._lbl"))
    cand = (
        x.join(y, join_cond)
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    return sized, banded_ok.select("id", "band", "bkey"), cand


def _jaccard(sh_a: Column, sh_b: Column) -> Column:
    n_inter = F.size(F.array_intersect(sh_a, sh_b))
    return n_inter / (F.size(sh_a) + F.size(sh_b) - n_inter)


def _lsh_verify_pairs(cand: DataFrame, src: DataFrame, threshold: float) -> DataFrame:
    """LSH stage 5, ``verify="pairs"``: each distinct candidate re-joins
    both hash SETS and intersects them worker-side — no inverted index, no
    per-shingle rows."""
    pa = src.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    pb = src.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    n_inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        cand.join(pa, "id_a")
        .join(pb, "id_b")
        .withColumn("n_inter", n_inter)
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.size("sh_a") + F.size("sh_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# Packed once-per-pair location: band in bits 55..62, block w in bit 54,
# bucket-array indices i and j in 27 bits each.
_IJ_BITS = 27
_IJ_MASK = (1 << _IJ_BITS) - 1


def _pack_loc(w: int) -> Column:
    return (
        F.shiftleft(F.col("band").cast("long"), 55)
        .bitwiseOR(F.lit(w << 54).cast("long"))
        .bitwiseOR(F.shiftleft(F.col("i").cast("long"), _IJ_BITS))
        .bitwiseOR(F.col("j").cast("long"))
    )


def _reduce_packed(narrow: DataFrame) -> DataFrame:
    """Reduce each narrow ``(id_a, id_b, p, bkey)`` candidate to its minimum
    packed location (VERDICT r11 #2): ``min(p)`` plus ``min_by(bkey, p)``
    keep both aggregate buffers primitive, so this compiles to
    HashAggregate with a map-side partial combine — no sort of the narrow
    stream. Within one (band, w) a pair occupies exactly one bucket and
    one (i, j), so bkey never tiebreaks."""
    return (
        narrow.groupBy("id_a", "id_b")
        .agg(F.min("p").alias("p"), F.min_by("bkey", "p").alias("bkey"))
        .select(
            "id_a",
            "id_b",
            F.shiftright("p", 55).cast("int").alias("band"),
            F.shiftright("p", 54)
            .bitwiseAND(F.lit(1).cast("long"))
            .cast("int")
            .alias("w"),
            F.shiftright("p", _IJ_BITS)
            .bitwiseAND(F.lit(_IJ_MASK).cast("long"))
            .cast("int")
            .alias("i"),
            F.col("p").bitwiseAND(F.lit(_IJ_MASK).cast("long")).cast("int").alias("j"),
            "bkey",
        )
    )


def _ordered_ids(a: Column, b: Column) -> tuple[Column, Column]:
    return (
        F.least(a.getField("id"), b.getField("id")).alias("id_a"),
        F.greatest(a.getField("id"), b.getField("id")).alias("id_b"),
    )


def _grouped_verify_guard(spark, audit: _CapAudit) -> None:
    """Plan-time limits of grouped verification. The packed location holds
    bucket indices in 27 bits, so a kept bucket of 2^27+ members cannot be
    verified grouped (it implies ~9e15 emissions — far past the flood
    ceiling anyway). Then the flood policy (VERDICT r11 #5): the audit's
    kept emission count IS the narrow candidate row count, known before
    enumeration, so a single-disk local lz4 run past the ENOSPC ceiling
    aborts now naming the knobs, and any other master gets its shuffle
    partitions raised (runtime-settable; AQE coalesces small ones back)."""
    if audit.max_kept > _IJ_MASK:
        raise RuntimeError(
            f"minhash_lsh_pairs: the cap audit kept a bucket of "
            f"{audit.max_kept:,} members (~{audit.kept_work:,} candidate "
            f"emissions over {audit.banded_rows:,} banded rows) — past the "
            f"grouped verify's {_IJ_MASK + 1:,}-member index bound. Cap "
            "the flood with max_bucket=<int>"
        )
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    action = _flood_escalation(
        audit.kept_work,
        spark.sparkContext.master,
        spark.conf.get("spark.io.compression.codec", "lz4"),
        cur,
    )
    if action is None:
        return
    kind, payload = action
    if kind == "abort":
        raise RuntimeError(payload)
    _remember_pre_raise_partitions(spark, cur)
    spark.conf.set("spark.sql.shuffle.partitions", str(payload))
    _LOG.warning(
        "minhash_lsh_pairs: raising spark.sql.shuffle.partitions -> %d for "
        "a ~%d-row narrow verify shuffle (sticky for this session; AQE "
        "coalesces small partitions back)",
        payload,
        audit.kept_work,
    )


def _lsh_verify_grouped(
    sized: DataFrame,
    src: DataFrame,
    band_src: DataFrame,
    band_cols: list[str],
    candidate_scope: str,
    threshold: float,
    max_labels: int | None,
    audit: _CapAudit,
) -> DataFrame:
    """LSH stage 5, ``verify="grouped"`` (VERDICT r09 #1 / r10 #1): members
    of buckets that can emit (2 <= bsz <= cap) join their hash set by id —
    <= bands copies per doc, linear in corpus size — and ONE (band, bkey)
    aggregation materializes each bucket as a row of id-sorted structs.
    Enumeration runs inside that row (explode(sequence) + element_at keep
    the struct array a codegen variable) and emits NARROW candidates;
    ``_reduce_packed`` keeps each pair's minimum co-occurring band, and a
    join back to the bucket rows on (band, bkey) — the aggregation's own
    partitioning, so only the narrow side shuffles — runs exact Jaccard
    once per distinct pair.

    The join is unhinted on purpose: a forced shuffle_hash build of the
    narrow pair side OOM'd a 32g heap at the 2700x octave (SHJ builds
    cannot spill); the planner's sort-merge spills, and AQE's
    maxShuffledHashJoinLocalMapThreshold (session.get_spark) converts back
    to the hash join when the measured build fits."""
    _grouped_verify_guard(sized.sparkSession, audit)
    pool = sized.filter(F.col("bsz") >= 2)
    if band_cols:
        return _grouped_cross_label(pool, band_src, threshold, max_labels)
    pool = pool.select("id", "band", "bkey")
    sh_map = src.select("id", "sh")
    grouped = (
        pool.join(sh_map, "id")
        .groupBy("band", "bkey")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("id"), F.col("sh")))
            ).alias("ds")
        )
    )
    csz = F.size("ds")
    if candidate_scope == "star":
        # ds[1] is the bucket min (id-sorted structs); edges (ds[1], ds[j])
        # for j in 2..c — the same star contract
        ex = grouped.select(
            "ds", "band", "bkey", F.lit(1).alias("i"),
            F.explode(F.sequence(F.lit(2), csz)).alias("j"),
        )
    else:
        # id-sorted structs: i < j gives id_a < id_b, like x.id < y.id
        ex = grouped.select(
            "ds", "band", "bkey",
            F.explode(F.sequence(F.lit(1), csz - 1)).alias("i"),
        ).select(
            "ds", "band", "bkey", "i",
            F.explode(F.sequence(F.col("i") + 1, F.size("ds"))).alias("j"),
        )
    a = F.element_at("ds", F.col("i"))
    b = F.element_at("ds", F.col("j"))
    narrow = ex.select(
        a.getField("id").alias("id_a"),
        b.getField("id").alias("id_b"),
        _pack_loc(0).alias("p"),
        "bkey",
    )
    joined = _reduce_packed(narrow).drop("w").join(grouped, ["band", "bkey"])
    return joined.select(
        "id_a", "id_b", _jaccard(a.getField("sh"), b.getField("sh")).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def _grouped_cross_label(
    pool: DataFrame, band_src: DataFrame, threshold: float, max_labels: int | None
) -> DataFrame:
    """Grouped verification for the cross-label contract, BLOCK-SPLIT: the
    bucket's distinct-label count and MIN label ride the (band, bkey)
    window exchange the size filter already pays, label-PURE buckets are
    pruned before the grouped shuffle (they ship sets for zero possible
    output), and the aggregation splits each bucket into the min-label
    block ``da`` vs the rest ``db`` — enumeration is the cross product
    da x db, every pair cross-label by construction. Buckets with >2
    distinct labels additionally enumerate within ``db`` under the label
    guard (block w=1), unless ``max_labels <= 2`` attests that cannot
    happen, in which case that branch is never built."""
    from pyspark.sql import Window

    wb = Window.partitionBy("band", "bkey")
    pool = (
        pool.withColumn("_nl", F.size(F.collect_set("_lbl").over(wb)))
        .withColumn("_lbl0", F.min("_lbl").over(wb))
        .filter(F.col("_nl") >= 2)
        .select("id", "band", "bkey", "_nl", "_lbl0")
    )
    sh_map = band_src.select("id", "_lbl", "sh")
    # array_sort is LOAD-BEARING: collect_list order over a shuffle is
    # nondeterministic across re-executions, and this aggregation is
    # evaluated TWICE (index capture for enumeration, index resolution on
    # the verify join's bucket side). Unsorted blocks let the two disagree
    # and element_at dereferenced the WRONG doc's set (caught at 2700x:
    # 440,089 vs 431,985 contaminated evals).
    grouped = (
        pool.join(sh_map, "id")
        .groupBy("band", "bkey")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("_lbl") == F.col("_lbl0"),
                        F.struct(F.col("id"), F.col("sh")),
                    )
                )
            ).alias("da"),
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("_lbl") != F.col("_lbl0"),
                        F.struct(F.col("id"), F.col("_lbl"), F.col("sh")),
                    )
                )
            ).alias("db"),
            # INVARIANT (ADVICE r11): every aggregate here must be
            # deterministic under re-execution (see array_sort above);
            # first(_nl) is safe ONLY because _nl is bucket-constant.
            F.first("_nl").alias("nl"),
        )
    )
    binary = max_labels is not None and max_labels <= 2
    exc = grouped.select(
        "da", "db", "band", "bkey",
        F.explode(F.sequence(F.lit(1), F.size("da"))).alias("i"),
    ).select(
        "da", "db", "band", "bkey", "i",
        F.explode(F.sequence(F.lit(1), F.size("db"))).alias("j"),
    )
    # block membership doesn't follow id order, so order ids explicitly
    narrow = exc.select(
        *_ordered_ids(F.element_at("da", F.col("i")), F.element_at("db", F.col("j"))),
        _pack_loc(0).alias("p"),
        "bkey",
    )
    if not binary:
        # Unattested labels: >2-label buckets also enumerate within db,
        # gated per row by nl so 2-label buckets emit nothing. Rides the
        # same aggregation (ReuseExchange shares the shuffle).
        exd = grouped.select(
            "db", "band", "bkey",
            F.explode(
                F.when(
                    F.col("nl") > 2,
                    F.sequence(F.lit(1), F.size("db") - 1),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("i"),
        ).select(
            "db", "band", "bkey", "i",
            F.explode(F.sequence(F.col("i") + 1, F.size("db"))).alias("j"),
        )
        a_d = F.element_at("db", F.col("i"))
        b_d = F.element_at("db", F.col("j"))
        narrow = narrow.unionByName(
            exd.filter(a_d.getField("_lbl") != b_d.getField("_lbl")).select(
                *_ordered_ids(a_d, b_d), _pack_loc(1).alias("p"), "bkey"
            )
        )
    joined = _reduce_packed(narrow).join(grouped, ["band", "bkey"])
    sh_b = F.element_at("db", F.col("j")).getField("sh")
    if binary:
        sh_a = F.element_at("da", F.col("i")).getField("sh")
    else:
        sh_a = F.when(
            F.col("w") == 0,
            F.element_at("da", F.col("i")).getField("sh"),
        ).otherwise(F.element_at("db", F.col("i")).getField("sh"))
    return joined.select(
        "id_a", "id_b", _jaccard(sh_a, sh_b).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def _observed_changed(obs, ck: DataFrame) -> int:
    """Convergence signal for one CC round, read from the checkpoint
    job's own observed metric — the observation rides the eager
    localCheckpoint's materialization job, so the old per-round
    ``filter(_changed).limit(1).count()`` action disappears entirely
    (r13; one fewer scheduled job per round, verified to fire on
    localCheckpoint in Spark 4.1). If the metric never arrives (engine
    drift; ``observation_or_none`` bounds the wait) the old count over the
    materialized leaf runs instead, so the worst case is the pre-r13
    behavior, never a hang. Returns nonzero iff any label changed."""
    vals = observation_or_none(obs, "connected_components convergence")
    if vals is None:
        return ck.filter("_changed").limit(1).count()
    v = vals["chg"]
    return int(v) if v is not None else 0  # max over zero rows -> null


def _free_local_checkpoint(df: DataFrame) -> None:
    """Release the storage blocks behind a ``localCheckpoint(eager=True)``
    frame. Unlike a persisted frame, a checkpointed one is NOT recomputable
    once its blocks are dropped (Spark raises CHECKPOINT_RDD_BLOCK_ID_NOT_
    FOUND) — so this is only safe on frames that are provably dead: no
    live DataFrame plan references them. ``DataFrame.unpersist()`` does
    NOT free these blocks (they live in the checkpointed RDD, not the
    cache manager), which is why connected_components previously leaked
    O(iterations) label frames per call until driver GC (ADVICE r07);
    the underlying RDD is reachable as the LogicalRDD leaf's ``rdd`` field.
    Best-effort: internal-API drift degrades to the old leak-until-GC
    behavior, never to an error."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def connected_components(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str = "id",
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Cluster near-duplicate pairs into components: every doc gets the
    minimum reachable doc id as its cluster id (keep ``doc_id ==
    cluster_id`` to dedup a corpus).

    Min-label propagation WITH POINTER JUMPING: each iteration takes
    label(u) <- min(label(u), min over neighbors' labels, label(label(u))).
    The neighbor term is the standard large-graph CC join; the
    label-of-label term (one extra keyed join per iteration, state stays
    one row per node) halves every label chain, so convergence is
    O(log diameter) rounds instead of O(diameter) — the difference between
    6 and 25+ rounds on the chain-shaped graphs star-scope LSH candidates
    produce (same trick as GraphFrames' large-star/small-star and
    Hash-to-Min). The driver-side loop is inherent to iterative
    algorithms; each iteration's convergence check is an OBSERVED metric
    (max of the _changed flags) computed inside that round's checkpoint
    materialization job itself — zero extra scheduled jobs per round
    (r13; previously one limit(1) count per round).

    LINEAGE TRUNCATION is load-bearing, not hygiene: every iteration
    references the previous ``labels`` plan 2-3 times, so without
    truncation the ANALYZED plan tree grows ~3^iterations copies of the
    (often enormous — a full LSH pipeline) pair-source lineage, and the
    driver burns minutes canonicalizing it for cache lookup while the
    executors idle — r07 measured 5 iterations taking 372s on a 114k-node
    / 300k-edge graph, single driver core pegged, before this fix; 3.9s
    after. ``localCheckpoint(eager=True)`` materializes each round's
    labels (and the edge frame once) and swaps the plan for a LogicalRDD
    leaf, making per-iteration planning cost constant. On a multi-node
    cluster prefer reliable ``checkpoint()`` (set a checkpoint dir) if
    executor loss must be survivable mid-algorithm; the algorithm is
    restartable either way.
    """
    # localCheckpoint (not persist): materializes AND truncates lineage —
    # the pair-source plan (e.g. the whole LSH pipeline) must not be
    # re-referenced by every iteration's growing tree (see docstring).
    # LAZY local checkpoint (VERDICT r12 #1 — one fewer sequential job):
    # round 1's eager ck_labels materialization consumes every edge
    # partition through its groupBy, so the edge checkpoint completes
    # inside THAT job instead of paying its own scheduling round trip and
    # an extra read of the freshly-written blocks. Lineage truncation is
    # unchanged — the Dataset is LogicalRDD-rooted either way — and any
    # partition the first job somehow skipped is back-filled by Spark's
    # checkpoint finalization, so iterations 2+ always read blocks.
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .unionByName(pairs.select(F.col(b_col).alias("u"), F.col(a_col).alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Round 1 folds the identity initialization: label(u) = u, so the
    # neighbor-min is just min(v) per u straight off the edge frame and the
    # pointer jump is a no-op — one groupBy + one left join against the id
    # list, no initial labels checkpoint, no self-joins. Rounds 2+ run the
    # general step below.
    first_nmin = edges.groupBy(F.col("u").alias("nu")).agg(
        F.min("v").alias("nmin")
    )
    from pyspark.sql import Observation

    obs1 = Observation()
    ck_labels = (
        ids.select(F.col(id_col).alias("u"))
        .join(first_nmin, F.col("u") == F.col("nu"), "left")
        .select(
            "u",
            F.least(F.col("u"), F.coalesce(F.col("nmin"), F.col("u"))).alias(
                "label"
            ),
        )
        .select("u", "label", (F.col("label") != F.col("u")).alias("_changed"))
        .observe(obs1, F.max(F.col("_changed").cast("int")).alias("chg"))
        .localCheckpoint(eager=True)
    )
    labels = ck_labels.select("u", "label")

    converged = _observed_changed(obs1, ck_labels) == 0
    iters = 1
    try:
        for _ in range(max_iter - 1):
            if converged:
                break
            iters += 1
            neighbor_min = (
                edges.join(labels, edges.v == labels.u)
                .groupBy(edges.u.alias("nu"))
                .agg(F.min("label").alias("nmin"))
            )
            stepped = labels.join(
                neighbor_min, labels.u == F.col("nu"), "left"
            ).select(
                "u",
                F.col("label").alias("_old"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("l1"),
            )
            # pointer jump: label(label(u)). Chains a->b->c->... halve each
            # round; labels are node ids, so the lookup is a keyed self-join
            # on the one-row-per-node label frame (l1 misses only when l1 is
            # already a root that lost its row — coalesce keeps it).
            jump = labels.select(
                F.col("u").alias("l1"), F.col("label").alias("l2")
            )
            # The convergence flag rides the checkpointed frame itself
            # (label != previous label) AND is read via an observed metric
            # computed inside the checkpoint's own materialization job
            # (r13) — the r07 shape re-joined new vs old labels on u (one
            # full extra shuffle join per iteration, ~40% of CC's wall,
            # VERDICT r07 #5); the r12 shape still paid one limit(1)
            # count job per round over the materialized leaf.
            obs_i = Observation()
            new_ck = (
                stepped.join(jump, "l1", "left")
                .select(
                    "u",
                    "_old",
                    F.least(
                        F.col("l1"), F.coalesce(F.col("l2"), F.col("l1"))
                    ).alias("label"),
                )
                .select(
                    "u",
                    "label",
                    (F.col("label") != F.col("_old")).alias("_changed"),
                )
                .observe(obs_i, F.max(F.col("_changed").cast("int")).alias("chg"))
                .localCheckpoint(eager=True)  # plan becomes a LogicalRDD leaf
            )
            changed = _observed_changed(obs_i, new_ck)
            # new_ck is eagerly materialized and the changed count is
            # done — the superseded labels frame is provably dead; free its
            # checkpoint blocks now instead of leaking O(iterations) frames
            # per call until driver GC (ADVICE r07)
            _free_local_checkpoint(ck_labels)
            ck_labels = new_ck
            labels = new_ck.select("u", "label")
            if changed == 0:
                converged = True
                break
    finally:
        # the returned labels frame is a self-contained LogicalRDD leaf —
        # the edge frame is dead once the loop exits (converged or raised)
        _free_local_checkpoint(edges)
    if stats is not None:
        stats["iterations"] = iters
    if not converged:
        # silent non-convergence would split one real component into
        # several clusters and keep duplicates — fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"iterations (component diameter exceeds max_iter); raise max_iter"
        )
    return labels.select(F.col("u").alias(id_col), F.col("label").alias("cluster_id"))


def canonical_keep_list(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
    pair_source=None,
    stats: dict | None = None,
) -> DataFrame:
    """Corpus-scale canonical dedup keep-list: exact collapse -> near-dup
    pair graph over DISTINCT texts only -> connected components -> ONE row
    per cluster ``(keep_id, n_members)``.

    This is the deployable 100 TB dedup contract (VERDICT r05 #4): output
    is documents-LINEAR, unlike the pair-emitting queries whose C(n,2)
    per-cluster emission is the contract-level quadratic term the scale
    ladder quarantined. The rep of each exact-dup group is its MIN member,
    so a component's min rep IS the min member over every doc in the
    component — ``cluster_id`` doubles as the keep id with no extra join.

    ``pair_source`` (reps -> (id_a, id_b, ...) frame) defaults to exact
    trigram Jaccard — deterministic, so the gate query carries a full
    recursive-CTE DuckDB oracle; at corpus scale pass a closure over
    ``minhash_lsh_pairs(collapse_exact=False)`` to keep candidate
    generation banded/bounded (recall then follows the LSH probability,
    which is why that shape is measured, not oracle-checked).
    """
    scale_partition_floor(df)
    reps, members = _exact_text_collapse(df, text_col, id_col)
    if pair_source is None:
        pairs = ngram_jaccard_pairs(reps, text_col, id_col, n, threshold)
    else:
        pairs = pair_source(reps)
    comp = connected_components(
        pairs, reps.select(F.col(id_col)), id_col=id_col, stats=stats
    )
    # the pair-source audit + CC rounds were the overlap window for the
    # collapse's async member count — settle before the final member join
    _settle_async_counts()
    return (
        comp.join(members, comp[id_col] == members["rep"])
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .select(F.col("cluster_id").alias("keep_id"), "n_members")
    )


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """64-bit SimHash per document: each token votes ±1 on every bit of its
    xxhash64; the fingerprint takes the majority sign. Pure expression
    aggregation (bits x conditional sums), map-side combinable."""
    ex = _fanout_rebalance(df).select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("tok")
    ).withColumn("h", F.xxhash64("tok"))
    votes = ex.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                    -1
                )
            ).alias(f"v{i}")
            for i in range(bits)
        ]
    )
    fp = None
    for i in range(bits):
        bit = F.when(F.col(f"v{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )
        fp = bit if fp is None else fp.bitwiseOR(bit)
    return votes.select("id", fp.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    chunks: int = 4,
    collapse_exact: bool = True,
    max_bucket: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance <= max_hamming.

    Pigeonhole banding: split the 64-bit fingerprint into `chunks` 16-bit
    chunks; any pair within Hamming distance < chunks must share a chunk,
    so candidates come from chunk-equality buckets (linear), then the exact
    Hamming filter runs on candidates only (bit_count(xor)).

    Recall guarantee requires max_hamming < chunks (pigeonhole); reject
    configurations that would silently miss pairs.

    ``collapse_exact`` (default on) mirrors minhash_lsh_pairs: identical
    texts have identical fingerprints, so the chunk self-join runs on
    distinct texts and verified pairs fan back out to members (within a
    group the distance is exactly 0). Without it, exact-dup clusters make
    candidates quadratic in cluster size — the 100x scale-proof measured
    6.8s -> 46s on 3.3x more data from exactly this.

    ``max_bucket`` (opt-in) drops chunk buckets holding more than that
    many DISTINCT fingerprints — a 16-bit chunk key space is only 65,536
    buckets, so at billions of documents every bucket is crowded and the
    pigeonhole join goes quadratic regardless of duplicate structure; at
    that scale cap the buckets (trading the recall guarantee for bounded
    work) or widen the fingerprint/chunks. The cap follows
    minhash_lsh_pairs' audit contract (``_lsh_cap_audit``, VERDICT r09
    #2): its fast path is one count of the banded frame while the
    worst-case kept volume sits under the flood bound; otherwise, and
    always with ``stats``, the full bucket-size audit runs and WARNs
    when the cap bites. ``stats`` receives the same six keys
    (bucket_join_work, max_bucket_size, dropped_buckets,
    dropped_emissions, effective_max_bucket, banded_rows); uncapped runs
    leave it untouched.

    Banding, the cap audit, and the bucket-size window are the shared
    LSH stages (``_lsh_banded``, ``_lsh_cap_audit``, ``_bucket_sized``);
    this function owns the fingerprint, the Hamming join, and the member
    fan-out."""
    if max_hamming >= chunks:
        raise ValueError(
            f"simhash_near_pairs requires max_hamming < chunks for full recall "
            f"(got max_hamming={max_hamming}, chunks={chunks}); "
            f"use chunks={max_hamming + 1} or more"
        )
    members = None
    if collapse_exact:
        df, members = _exact_text_collapse(df, text_col, id_col)
    width = 64 // chunks
    banded = _lsh_banded(
        simhash(df, text_col, id_col),
        ["simhash"],
        [
            F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(
                F.lit((1 << width) - 1)
            )
            for i in range(chunks)
        ],
    )
    if max_bucket is None:
        # Eager count: both self-join sides reference banded, and a
        # MATERIALIZED InMemoryRelation gives the static planner measured
        # stats for the corpus x chunks frame — no Generate-collapsed
        # estimate can broadcast it (the r09 BroadcastOverGenerate class).
        banded.count()
    else:
        # the audit's job (a count on its fast path) materializes banded
        audit = _lsh_cap_audit(banded, [], "all", max_bucket, full=stats is not None)
        if stats is not None:
            _cap_stats(stats, audit)
        banded = _bucket_sized(banded, audit.eff_cap).drop("bsz")
    # the banded count above is the overlap window for the collapse's
    # async member count (small-source regime) — settle before returning
    _settle_async_counts()
    x, y = banded.alias("x"), banded.alias("y")
    verified = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bkey") == F.col("y.bkey"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.bit_count(
                F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    if members is None:
        return verified
    # bit_count yields int; keep the expanded column the same type
    return _expand_member_pairs(
        verified,
        members,
        banded.select("id").distinct(),
        "hamming",
        F.lit(0).cast("integer"),
    )


def boilerplate_span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicate-span removal — the C4 "repeated
    three-sentence span" rule re-expressed for whitespace corpora: chop each
    normalized document into NON-overlapping ``span``-word spans, find spans
    that occur in >= ``min_docs`` distinct documents (boilerplate: headers,
    footers, license blocks, templated chrome), and rebuild each document
    with those spans dropped.

    Returns one row per document: ``(id, n_spans, n_dup_spans,
    dup_span_frac, clean_text)`` — the fraction doubles as a boilerplate
    score for filtering.

    Scale shape (the reason this survives 100 TB):
      * spans are derived with pure array ops inside the scan projection —
        the only shuffle is the groupBy that counts distinct docs per span,
        and that aggregation partial-combines map-side;
      * the heavy-span set (count >= min_docs) is a tiny fraction of the
        corpus by construction, so the join back is a BROADCAST hash join —
        the corpus-sized side never reshuffles;
      * span keys carry ``xxhash64(span_text)`` so the aggregation compares
        8-byte ints, not strings; at petabyte scale you would key on the
        hash alone (documented collision odds ~n^2/2^64) — here the text
        rides along so the gate is hash-collision-proof;
      * reassembly sorts each doc's surviving spans by position inside a
        single per-doc aggregate (array_sort over collect_list of structs)
        — no window, no second shuffle beyond the doc-keyed agg.

    Reference anchor: extends the corpus-hygiene family of
    fact_dim_merging.sh:282-413 (dup checks) from row-level to sub-document
    spans for training-data curation.
    """
    toks = tokens(text_col)
    n_spans = F.ceil(F.size(toks) / F.lit(span)).cast("int")
    spans_arr = F.transform(
        F.sequence(F.lit(0), n_spans - F.lit(1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i * span + 1, span)),
    )
    # fan-out first: the span build + explode is CPU-multiplying and this
    # frame is evaluated twice (heavy-set pass + join-back pass); on a
    # narrow small-corpus scan that was 2 x 17s at 4 tasks vs 2 x 3s at
    # core count (round-5 stage timing; pass-through on any wide scan)
    base = _fanout_rebalance(df).select(
        F.col(id_col).alias("id"),
        F.posexplode(spans_arr).alias("span_idx", "span_text"),
    )
    heavy = (
        base.groupBy(F.xxhash64("span_text").alias("span_hash"), "span_text")
        .agg(F.count_distinct("id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("span_text", "n_docs")
    )
    # heavy (cross-doc duplicate spans) GROWS WITH THE CORPUS — at web
    # scale boilerplate is a constant fraction of all spans, so the
    # explicit broadcast this join used through r08 was a latent scale
    # bug of the same class as the r09 containment incident; a keyed
    # shuffled hash join is the shape (both sides already key on the span)
    joined = base.join(heavy.hint("shuffle_hash"), "span_text", "left")
    keep = F.when(
        F.col("n_docs").isNull(),
        F.struct(F.col("span_idx"), F.col("span_text")),
    )
    return (
        joined.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("n_docs").isNotNull().cast("long")).alias("n_dup_spans"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(keep)), lambda s: s["span_text"]
                ),
            ).alias("clean_text"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_spans",
            "n_dup_spans",
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 6).alias(
                "dup_span_frac"
            ),
            "clean_text",
        )
    )
