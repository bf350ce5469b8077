"""Deduplication operators for training-data pipelines.

Every stage is built from JVM-side column expressions (md5 / array ops /
joins) — no Python in the hot path — and every shuffle is on a key designed
to stay small. The large expression trees (token/shingle arrays, md5
signatures, band keys, in-group pair generation) are written as SQL text
and parsed in one call each: built from ``pyspark.sql.functions`` node by
node they cost one to several py4j round trips per node (1,636 for the
MinHash band table alone), more than the query's own work at small scale.

* **exact_dedup** — hash-groupBy on a normalized fingerprint. One shuffle on
  a 32-char key; at 100 TB combine map-side, or pre-bucket by fingerprint.
* **MinHash + LSH** — shingle -> per-seed min of md5(seed||shingle) ->
  band keys -> self-join on band key. The expensive O(n²) similarity join is
  reduced to equi-joins on short band-hash keys (standard LSH banding), which
  Spark executes as ordinary shuffle joins with AQE skew handling.
  md5 is used as the hash family (seeded by prefixing) because it is
  available and bit-identical in Spark, DuckDB and Python — so the whole
  pipeline is oracle-checkable; lexicographic min over hex strings is a
  valid uniform min-hash.
* **SimHash** — 64-bit (here 32-bit for portable integer math) weighted
  bit-vote over token hashes; near-dups = same value in any rotated band.
* **n-gram Jaccard** — exact verify step on LSH candidates: one lazy plan
  (candidates -> shingle-hash sets of the candidate ids -> two equi-joins
  -> size-bound filter -> array_intersect), whose join strategy AQE picks
  at runtime from the measured sizes; no driver-side gate job.
* **embedding near-dup** — exact cosine over the embedding column by
  blocked GEMM (one broadcast matrix, or a k x k block grid above the
  broadcast budget); see similarity.py for the ANN path.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from arcticdb_spark.extensions.text import (fingerprint, let_sql,
                                            sql_apply, sql_ident, sql_str,
                                            tokens_sql)
from arcticdb_spark.extensions.text import quality_score as _quality_score

# Persisted intermediates of the dedup and similarity operators, registered
# here so a long-lived session can release executor memory: call
# unpersist_all() after consuming the result (bench.py does).
_PERSISTED: list[DataFrame] = []


def _persist(df: DataFrame) -> DataFrame:
    df = df.persist()
    _PERSISTED.append(df)
    return df


def unpersist_all() -> None:
    """Release every cached dedup intermediate (safe to call any time after
    the result DataFrames have been consumed)."""
    while _PERSISTED:
        try:
            _PERSISTED.pop().unpersist()
        except Exception:
            pass


def _materialize(df: DataFrame) -> DataFrame:
    """Persist AND populate the cache now. Required before a self-join:
    persist() alone is lazy, so both join sides race to compute the (still
    empty) cache and the expensive signature expression runs twice."""
    df = _persist(df)
    df.count()
    return df


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                keep: str = "min") -> DataFrame:
    """One row per distinct normalized text: the min (or max) id survives,
    with the duplicate count. Reference analogue: segment-level content-hash
    dedup on write (SURVEY §2.8) — here generalized to row granularity."""
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    return (df.groupBy(fingerprint(F.col(text_col)).alias("fingerprint"))
              .agg(agg.alias(id_col), F.count(F.lit(1)).alias("dup_count")))


def keep_best_per_dup_group(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            quality: Column | None = None) -> DataFrame:
    """Retention policy over exact-duplicate groups: ONE surviving document
    per distinct normalized text, the winner chosen by (quality DESC,
    n_chars DESC, id ASC) — i.e. keep the best-quality, then longest, then
    lowest-id copy. This is the standard "which copy do we train on" step
    that follows dedup in a pre-training pipeline (exact_dedup only reports
    the min-id, which may be the worst copy).

    Physical plan: a single hash shuffle on the fingerprint with MAP-SIDE
    combine — the winner is selected by ``max_by`` over a lexicographic
    struct key, so partial aggregation picks per-partition winners before
    the shuffle and each group moves at most one row per map partition
    (a per-group sort via a row_number window would shuffle every duplicate
    row). At 100 TB this is the same cost class as exact_dedup itself."""
    q = quality if quality is not None else _quality_score(sql_ident(text_col))
    n_chars = F.length(F.col(text_col)).cast("long")
    # maximize (quality, n_chars, -id): struct comparison is field-by-field
    rank = F.struct(q.alias("q"), n_chars.alias("nc"),
                    (-F.col(id_col).cast("long")).alias("neg_id"))
    payload = F.struct(F.col(id_col).cast("long").alias("id"),
                       q.alias("quality"), n_chars.alias("n_chars"))
    return (df.groupBy(fingerprint(F.col(text_col)).alias("fingerprint"))
              .agg(F.max_by(payload, rank).alias("best"),
                   F.count(F.lit(1)).alias("dup_count"))
              .select("fingerprint",
                      F.col("best.id").alias(id_col),
                      F.col("best.quality").alias("quality"),
                      F.col("best.n_chars").alias("n_chars"),
                      "dup_count"))


def _bloom_params(n_items: int, fpp: float) -> tuple[int, int]:
    """Optimal (m_bits, k_hashes) for an n-item Bloom filter at the given
    false-positive rate: m = -n ln p / ln²2, k = (m/n) ln 2."""
    import math
    n = max(int(n_items), 1)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = max(m, 64)
    k = max(1, int(round(m / n * math.log(2))))
    return m, k


def _bloom_indices(fps: pd.Series, m: int, k: int) -> np.ndarray:
    """(rows, k) bit indices for md5-hex fingerprints via Kirsch-
    Mitzenmacher double hashing: h1/h2 are the two 64-bit halves of the
    md5 itself — no extra hash pass, deterministic everywhere."""
    h = np.frombuffer(
        bytes.fromhex("".join(fps.astype(str))), dtype=">u8").reshape(-1, 2)
    h1, h2 = h[:, 0], h[:, 1] | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m))


def incremental_dedup(new_df: DataFrame, seen_df: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      broadcast_bytes_max: int = 64 << 20,
                      bloom_fpp: float = 0.01,
                      n_seen: int | None = None) -> DataFrame:
    """Incremental (new-vs-seen) exact dedup: the rows of ``new_df`` whose
    normalized-text fingerprint does NOT occur anywhere in ``seen_df`` —
    the "only ingest what yesterday's crawl didn't already have" step of a
    continuously-fed corpus. EXACT result on every path (the Bloom filter
    is a prefilter, never the decider).

    Physical strategies (byte-gated, logged in GATE_LOG):

    * seen fingerprint set fits the broadcast budget (~32 B/row) ->
      collect the distinct fingerprints once via Arrow and filter new rows
      map-side against a broadcast set — ZERO shuffle of either side.
    * above budget -> distributed Bloom prefilter + exact verify: each
      seen partition builds a partial m-bit bitmap (mapInPandas), the
      driver ORs the partials (m/8 bytes each — 1.2 MB at 1M seen /
      fpp=0.01; at 1B seen either raise fpp or accept the ~1.2 GB task
      broadcast), new rows test k bits map-side, and only the ~fpp
      false-positive fraction plus the true duplicates anti-join against
      the seen fingerprints for the exact verdict. The O(new) bulk never
      shuffles; the anti-join input is |new|*(dup_rate+fpp) rows.
    """
    fp_new = new_df.select(F.col(id_col),
                           fingerprint(F.col(text_col)).alias("fingerprint"))
    fp_seen = seen_df.select(fingerprint(F.col(text_col)).alias("fingerprint"))
    if n_seen is None:
        # ONE row-capped Arrow job decides the gate AND delivers the seen
        # set (was: a separate seen_df.count() job before the collect);
        # above the cap the transfer stops at cap+1 rows and the bloom
        # path takes over with an exact count for its sizing
        cap_rows = max(broadcast_bytes_max // 32, 0)
        tbl = fp_seen.distinct().limit(cap_rows + 1).toArrow()
        if tbl.num_rows <= cap_rows:
            _gate("incremental_dedup", "broadcast_set", n_seen=tbl.num_rows,
                  est_bytes=tbl.num_rows * 32, budget=broadcast_bytes_max)
            seen_set = frozenset(tbl.column("fingerprint").to_pylist())

            @F.pandas_udf("boolean")
            def is_seen(s: pd.Series) -> pd.Series:
                return s.isin(seen_set)

            return fp_new.filter(~is_seen(F.col("fingerprint")))
        n = seen_df.count()
    else:
        n = n_seen
        est_bytes = n * 32
        if est_bytes <= broadcast_bytes_max:
            _gate("incremental_dedup", "broadcast_set", n_seen=n,
                  est_bytes=est_bytes, budget=broadcast_bytes_max)
            tbl = fp_seen.distinct().toArrow()
            seen_set = frozenset(tbl.column("fingerprint").to_pylist())

            @F.pandas_udf("boolean")
            def is_seen(s: pd.Series) -> pd.Series:
                return s.isin(seen_set)

            return fp_new.filter(~is_seen(F.col("fingerprint")))
    est_bytes = n * 32

    m, k = _bloom_params(n, bloom_fpp)
    _gate("incremental_dedup", "bloom_prefilter", n_seen=n,
          est_bytes=est_bytes, budget=broadcast_bytes_max,
          bloom_bits=m, bloom_hashes=k, fpp=bloom_fpp)

    def build(batches):
        bits = np.zeros((m + 7) // 8, dtype=np.uint8)
        any_rows = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            any_rows = True
            idx = _bloom_indices(pdf["fingerprint"], m, k).ravel()
            np.bitwise_or.at(bits, (idx >> np.uint64(3)).astype(np.int64),
                             np.left_shift(1, (idx & np.uint64(7))
                                           .astype(np.uint8)).astype(np.uint8))
        if any_rows:
            yield pd.DataFrame({"bits": [bits.tobytes()]})

    partials = fp_seen.mapInPandas(build, "bits binary").collect()
    bitmap = np.zeros((m + 7) // 8, dtype=np.uint8)
    for row in partials:
        bitmap |= np.frombuffer(row.bits, dtype=np.uint8)

    @F.pandas_udf("boolean")
    def maybe_seen(s: pd.Series) -> pd.Series:
        if len(s) == 0:
            return pd.Series([], dtype=bool)
        idx = _bloom_indices(s, m, k)
        byte = bitmap[(idx >> np.uint64(3)).astype(np.int64)]
        bit = np.left_shift(1, (idx & np.uint64(7)).astype(np.uint8))
        return pd.Series(((byte & bit) != 0).all(axis=1))

    flagged = _materialize(fp_new.withColumn(
        "maybe_seen", maybe_seen(F.col("fingerprint"))))
    certain_new = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    verified_new = (flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
                    .join(fp_seen, "fingerprint", "left_anti"))
    return certain_new.unionByName(verified_new)


def segment_dedup(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", *,
                  delimiter: str | None = None, window: int | None = None,
                  min_docs: int = 2) -> DataFrame:
    """Segment-level exact dedup with document reassembly — the CCNet /
    RefinedWeb "remove boilerplate lines that repeat across pages" pass,
    a finer granularity than whole-document dedup (reference analogue:
    segment content-hash dedup on write, SURVEY §2.8, here applied INSIDE
    documents). A segment is either a ``delimiter``-split span (e.g.
    ``r"\\n+"`` for line-level on real corpora) or, for corpora without
    structural delimiters, a fixed ``window``-token span. Any segment whose
    exact text occurs in >= ``min_docs`` DISTINCT documents is removed from
    every document; surviving segments are reassembled in original order.

    Returns one row per input document: ``(id, n_segments, n_removed,
    text)`` where ``text`` is the cleaned reassembly ('' when everything
    was boilerplate).

    Physical shape, 100 TB honest: one posexplode (narrow, linear) -> the
    duplicate-segment table is a groupBy on the segment with a
    count_distinct(id) — map-side combinable, output ~ O(#distinct
    boilerplate segments), far smaller than the corpus -> re-attach by an
    equi-join -> one groupBy on the id with a sort_array over (pos,
    segment) structs to reassemble (map-side combinable; no window
    function, no per-doc sort shuffle beyond the one id shuffle). Segment
    strings travel the join as md5 fingerprints (16 B) rather than full
    text. ONE lazy plan, no Spark job before the caller's action: AQE
    picks a broadcast or a shuffle join from the dup table's measured
    size at runtime."""
    if (delimiter is None) == (window is None):
        raise ValueError("segment_dedup: exactly one of delimiter= or "
                         "window= is required")
    text = sql_ident(text_col)
    if delimiter is not None:
        segs = (f"filter(split(trim({text}), {sql_str(delimiter)}), "
                f"__s -> length(__s) > 0)")
    else:
        w = int(window)
        # sequence(0, -1) would yield [0, -1] (descending step), so guard
        # the empty-document case explicitly; the token array is bound
        # once, not re-split per segment
        segs = let_sql("__k", tokens_sql(text), (
            f"CASE WHEN size(__k) = 0 THEN CAST(array() AS ARRAY<STRING>) "
            f"ELSE transform(sequence(0, CAST(ceil(size(__k) / {w}) AS INT) "
            f"- 1), __i -> array_join(slice(__k, __i * {w} + 1, {w}), ' ')) "
            f"END"))
    ident = sql_ident(id_col)
    # lazy persist: the exploded segments feed the dup table and the
    # join-back through different exchanges; the first stage that reads
    # them fills the cache
    exploded = _persist(
        df.selectExpr(ident, segs + " AS __segs__")
          .selectExpr(ident, "posexplode_outer(__segs__) AS (pos, seg)")
          .selectExpr("*", "md5(seg) AS __fp__"))
    dup = (exploded.where("seg IS NOT NULL")
                   .groupBy("__fp__")
                   .agg(F.expr(f"count(DISTINCT {ident}) AS __nd__"))
                   .where(f"__nd__ >= {int(min_docs)}")
                   .selectExpr("__fp__", "true AS __dup__"))
    marked = (exploded.join(dup, "__fp__", "left")
                      .withColumn("__dup__",
                                  F.expr("coalesce(__dup__, false)")))
    return (marked.groupBy(id_col)
                  .agg(F.expr("count(seg) AS n_segments"),
                       F.expr("count(CASE WHEN __dup__ THEN 1 END) "
                              "AS n_removed"),
                       F.expr("sort_array(collect_list(CASE WHEN seg IS NOT "
                              "NULL AND NOT __dup__ THEN struct(pos, seg) "
                              "END)) AS __kept__"))
                  .select(id_col, "n_segments", "n_removed",
                          F.expr("array_join(transform(__kept__, __s -> "
                                 "__s.seg), ' ')").alias(text_col)))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def shingles_sql(toks: str, k: int = 3) -> str:
    """SQL text of the k-token shingles of an ALREADY-MATERIALIZED
    token-array column ``toks``; documents shorter than k tokens get a
    single shingle of all tokens. Like :func:`ngrams_from_tokens`, the
    positional transform references the token array inside its lambda, so
    a raw tokenize expression here would be re-evaluated O(tokens) times
    per document."""
    k = int(k)
    return (f"CASE WHEN size({toks}) >= {k} THEN transform(sequence(1, "
            f"size({toks}) - {k - 1}), __i -> array_join(slice({toks}, __i, "
            f"{k}), ' ')) ELSE array(array_join({toks}, ' ')) END")


def _scan_partitions_estimate(df: DataFrame, par: int) -> int | None:
    """Exact scan-partition count for the few-local-files case, from file
    sizes + Spark's split-packing math (FilePartition.getFilePartitions):
    ``maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    (totalBytes + files*openCost) / defaultParallelism))``, files split
    into maxSplitBytes chunks, chunks greedy-packed largest-first with
    openCost charged per chunk (ADVICE r13: the previous
    ``total <= maxPartitionBytes -> 1`` shortcut said 1 for a 120 MB file
    that really scans as ~30 partitions, adding a repartition Spark did
    not need). Returns None whenever the count cannot be decided cheaply —
    the caller then asks the JVM-side RDD of the plan for its partition
    count."""
    try:
        jfiles = df._jdf.inputFiles()   # len() first: one call when empty
        if not 0 < len(jfiles) <= 64:
            return None
        files = list(jfiles)
    except Exception:
        return None
    import os
    from urllib.parse import unquote, urlparse

    def _conf_bytes(key: str, default: int) -> int:
        try:
            v = df.sparkSession.conf.get(key)
            return int(str(v).lower().rstrip("b"))
        except Exception:
            return default
    mpb = _conf_bytes("spark.sql.files.maxPartitionBytes", 128 << 20)
    opencost = _conf_bytes("spark.sql.files.openCostInBytes", 4 << 20)
    sizes = []
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("", "file"):
            return None
        p = unquote(u.path)
        if not os.path.exists(p):
            return None
        sizes.append(os.path.getsize(p))
    total = sum(sizes) + len(sizes) * opencost
    par = max(1, par)
    max_split = min(mpb, max(opencost, total // par))
    chunks = []
    for size in sizes:
        off = 0
        while off < size:
            chunks.append(min(max_split, size - off))
            off += max_split
    if not chunks:
        return 1
    # greedy pack, largest first; the close test charges the incoming
    # chunk's LENGTH only, the accumulator adds length + openCost —
    # exactly FilePartition.getFilePartitions
    chunks.sort(reverse=True)
    parts, cur = 0, 0
    for c in chunks:
        if cur and cur + c > max_split:
            parts += 1
            cur = 0
        cur += c + opencost
    return parts + 1


def _spread(df: DataFrame) -> DataFrame:
    """Single-file parquet scans arrive as 1 partition — spread the heavy
    hash computation across cores before the narrow map."""
    target = df.sparkSession.sparkContext._jsc.defaultParallelism()
    est = _scan_partitions_estimate(df, target)
    # the JVM RDD, not ``df.rdd``: that one wraps the plan in a Python
    # RDD first (9-51 py4j calls against 2)
    nparts = est if est is not None else df._jdf.rdd().getNumPartitions()
    if nparts < max(2, target // 2):
        return df.repartition(target)
    return df


def _minhash_band_table_canonical(df: DataFrame, text_col: str,
                                  id_col: str, num_hashes: int,
                                  bands: int, k: int) -> DataFrame:
    """MinHash band table for canonical-band pair emission: (id, bi, band,
    ek) rows where ``bi`` is the band index and ``ek`` the row's EARLIER
    band keys (slice [0, bi) of the key array). Carrying ~(bands-1)/2 x
    35 B of earlier keys per keyed row lets the pair generator suppress
    re-emissions in-group, removing the pair-stream ``distinct()``
    exchange — the stream that goes quadratic on hot bands, far larger
    than the keyed table whenever dedup pressure is real.

    The signature and band-key construction is the oracle-pinned md5
    family (the DuckDB oracle of ``dedup_minhash`` replays it): one seeded
    md5 per shingle yields FOUR 32-bit hashes (8-hex-char substrings of
    the digest), signature position i = min over shingles of
    ``substring(md5("h{i//4}:" || shingle), (i%4)*8+1, 8)``, and band b's
    key = ``"b{b}:" || md5(concat_ws("|", positions of band b))``.
    The digests are BINARY (``unhex`` once per shingle), so a position is
    an O(1) 4-byte ``substring`` at offset i*4, not a walk over the hex
    string's UTF-8 chars; unsigned byte order equals lowercase-hex order,
    so ``lower(hex(array_min(.)))`` is the same 8-char text."""
    rows = num_hashes // bands
    n_seeds = -(-num_hashes // 4)
    text = sql_ident(text_col)
    # ONE array traversal computes all digests (n_seeds md5 per shingle,
    # concatenated); separate per-position lambdas would re-run md5 per
    # signature position (no CSE across HOF lambdas). The token array and
    # the digest array are each bound once (let_sql): the positional
    # shingle transform and every signature position read them.
    digests = let_sql("__toks__", tokens_sql(f"lower({text})"), (
        "transform(" + shingles_sql("__toks__", k) + ", __s -> unhex(concat("
        + ", ".join(f"md5(concat('h{j}:', __s))" for j in range(n_seeds))
        + ")))"))

    # signature position i = 4-byte chunk at offset i*4 of the digest;
    # band keys are built straight from the per-position mins so every
    # position is traversed exactly once
    def sig_i(i: int) -> str:
        return (f"lower(hex(array_min(transform(__hs, __h -> "
                f"substring(__h, {i * 4 + 1}, 4)))))")

    keys = let_sql("__hs", digests, "array(" + ", ".join(
        f"concat('b{b}:', md5(concat_ws('|', "
        + ", ".join(sig_i(b * rows + r) for r in range(rows)) + ")))"
        for b in range(bands)) + ")")
    # the key array becomes a PHYSICAL column first, and the generator
    # explodes a CONSTANT-size array of (bi, band, ek) structs over it.
    # Two traps this shape avoids (measured, 70x): a posexplode over a
    # computed array ATTRIBUTE makes InferFiltersFromGenerate add
    # ``size(arr) > 0``, which filter pushdown inlines through every
    # projection down to the scan — re-evaluating the whole md5 pipeline
    # per input row (a literal-size array folds the inferred filter away
    # instead); and a key expression referenced by several structs would
    # be duplicated. The key column stays a separate Project
    # (CollapseProject never inlines non-cheap multiply-referenced exprs),
    # so every md5 runs once.
    items = "array(" + ", ".join(
        f"named_struct('bi', {b}, 'band', __ks__[{b}], 'ek', "
        f"slice(__ks__, 1, {b}))" for b in range(bands)) + ")"
    return (_spread(df.selectExpr(f"{sql_ident(id_col)} AS id", text))
            .selectExpr("id", keys + " AS __ks__")
            .selectExpr("id", f"inline({items})"))


def minhash_candidate_recall(s: float, bands: int, rows_per_band: int
                             ) -> float:
    """P(a pair with true Jaccard ``s`` shares >= 1 band) =
    1 - (1 - s^r)^b — the banded-minhash S-curve (MMDS ch.3)."""
    return 1.0 - (1.0 - s ** rows_per_band) ** bands


def minhash_near_dup_pairs(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", num_hashes: int = 16,
                           bands: int = 4, k: int = 3) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) sharing >= 1 LSH band.

    Plan shape at scale: one narrow map computes signatures; explode to
    (band_key, id); ONE shuffle groups each band's members; ordered pairs
    are generated in-band from the sorted member array, each pair emitted
    exactly once from the first band it shares (canonical-band emission —
    no pair-stream ``distinct()``). No cartesian anywhere. (r14, guide
    §2.4: the former band self-equi-join shuffled the keyed table twice
    and needed an eager materialize so the signature expression would not
    compute once per join side — grouping lands a band's members on one
    reducer exactly like the join's hash partitioning did, so hot-band
    concentration is unchanged while one exchange and the materialize job
    disappear.)

    Candidate recall is a function of the TRUE Jaccard similarity s:
    P(candidate) = 1 - (1 - s^r)^b with r = num_hashes/bands rows per band
    (defaults 16/4: ~0.23 at s=0.5, ~0.87 at s=0.8, ~0.99 at s=0.95) —
    the S-curve every banded-minhash system rides. Each call logs
    ``minhash_candidates`` with the curve at s = 0.5/0.8/0.95 so a
    low-similarity request is visibly recall-bounded.
    """
    r = max(num_hashes // bands, 1)
    _gate("minhash_candidates", "banded_lsh", num_hashes=num_hashes,
          bands=bands, rows_per_band=r,
          recall_at_s={s: round(minhash_candidate_recall(s, bands, r), 4)
                       for s in (0.5, 0.8, 0.95)})
    keyed = _minhash_band_table_canonical(df, text_col, id_col,
                                          num_hashes, bands, k)
    grouped = (keyed.groupBy("bi", "band")
               .agg(F.expr("array_sort(collect_list(struct(id, ek)))")
                     .alias("ms"))
               .where("size(ms) >= 2"))
    # ordered pairs from the sorted member array: element i pairs with
    # every later element, so id_a < id_b by construction (identical to
    # the old a.id < b.id join predicate); each member carries its
    # earlier band keys for the canonical-band filter below.
    # canonical-band emission (r14, guide §2.4): emit a pair only from the
    # FIRST band both members share — an agreeing earlier key means the
    # pair already surfaced in that band's group. Replaces the
    # ``distinct()`` exchange over the pair stream (the stream that goes
    # quadratic on hot bands) with an in-group elementwise key compare.
    return (grouped.selectExpr(
                "explode(flatten(transform(ms, (__x, __i) -> transform("
                "slice(ms, __i + 2, size(ms)), __y -> named_struct("
                "'id_a', __x.id, 'id_b', __y.id, 'ea', __x.ek, "
                "'eb', __y.ek))))) AS p")
            .where("NOT exists(zip_with(p.ea, p.eb, (__a, __b) -> "
                   "__a = __b), __v -> __v)")
            .select("p.id_a", "p.id_b"))


# driver/executor broadcast budget for the normalized embedding matrix of
# the exact near-dup path; above it the block grid takes over
_BCAST_BYTES_MAX = 512 << 20

# every physical-strategy gate decision is appended here (gate name,
# measured size, budget, chosen path) — tools/scale_probe.py dumps it per
# scale factor so SCALING.md records which side of each gate actually
# fires as data grows; also the first thing to read when a dedup job's
# plan surprises you in production
GATE_LOG: list[dict] = []


def _gate(gate: str, path: str, **kw) -> None:
    GATE_LOG.append({"gate": gate, "path": path, **kw})


def clear_gate_log() -> None:
    GATE_LOG.clear()


def _shingle_hash_sets(df, cand_ids, text_col, id_col, k):
    """(id, sorted distinct xxhash64-per-shingle LONG array) for candidate
    ids only. Hashing runs JVM-side; downstream rescoring moves/holds 8 B
    per shingle instead of its string (~10x smaller shuffle) and compares
    longs instead of strings. Jaccard on the hash sets equals string-set
    jaccard up to 64-bit collisions inside one candidate pair's union
    (~hundreds of shingles: P < 1e-14)."""
    text = sql_ident(text_col)
    return (_spread(df.selectExpr(f"{sql_ident(id_col)} AS id", text))
            .join(cand_ids, "id", "left_semi")
            .selectExpr("id", let_sql(
                "__toks__", tokens_sql(f"lower({text})"),
                "array_sort(array_distinct(transform("
                + shingles_sql("__toks__", k) + ", __s -> xxhash64(__s))))")
                + " AS sh"))


def _jaccard_rescore_join(sets_df, cand, threshold: float):
    """Candidate pairs with Jaccard >= ``threshold``: re-attach the
    (candidate-only) shingle-hash sets with two equi-joins, then filter
    and verify (the string-similarity-join pattern). A pair's Jaccard is
    at most min(|A|,|B|) / max(|A|,|B|), so pairs whose rounded size ratio
    is below the threshold are dropped before any ``array_intersect``; the
    bound is exact (division and 6-dp rounding are monotone), so no
    qualifying pair is lost. The sets are distinct, so the union is
    |A| + |B| - |A∩B| — no ``array_union``. AQE picks a broadcast or a
    shuffle join for each side from the measured set sizes at runtime."""
    j = (cand.join(sets_df.selectExpr("id AS id_a", "sh AS sh_a"), "id_a")
             .join(sets_df.selectExpr("id AS id_b", "sh AS sh_b"), "id_b"))
    t = float(threshold)
    return (j.where(f"round(least(size(sh_a), size(sh_b)) / "
                    f"greatest(size(sh_a), size(sh_b)), 6) >= "
                    f"CAST('{t!r}' AS DOUBLE)")
             .selectExpr("id_a", "id_b",
                         "size(array_intersect(sh_a, sh_b)) AS __inter__",
                         "size(sh_a) + size(sh_b) AS __sizes__")
             .selectExpr("id_a", "id_b",
                         "round(CASE WHEN __sizes__ - __inter__ > 0 THEN "
                         "__inter__ / CAST(__sizes__ - __inter__ AS DOUBLE) "
                         "ELSE 0.0D END, 6) AS jaccard")
             .where(f"jaccard >= CAST('{t!r}' AS DOUBLE)"))


def jaccard_near_dup_pairs(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", threshold: float = 0.5,
                           num_hashes: int = 16, bands: int = 8,
                           k: int = 2) -> DataFrame:
    """LSH candidates verified with exact token-k-gram Jaccard >= threshold.

    ONE lazy plan, no Spark job before the caller's action: candidate
    pairs carry IDS ONLY through the shuffle; shingle-hash sets are
    computed for candidate ids only (left-semi on the id set) and
    re-attached to the pairs by two equi-joins whose strategy AQE picks
    at runtime (a broadcast while the sets are small, a shuffle join
    above), then size-filtered and verified JVM-side
    (:func:`_jaccard_rescore_join`). The candidate and set subplans each
    feed two consumers; Spark reuses their exchanges instead of computing
    them twice.
    """
    cand = minhash_near_dup_pairs(df, text_col, id_col, num_hashes, bands, k)
    cand_ids = (cand.select(F.col("id_a").alias("id"))
                .unionByName(cand.select(F.col("id_b").alias("id")))
                .distinct())
    sets_df = _shingle_hash_sets(df, cand_ids, text_col, id_col, k)
    return _jaccard_rescore_join(sets_df, cand, threshold)


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------

def _vec_matrix(vecs) -> np.ndarray:
    """A batch of vectors (a pandas Series or sequence of equal-length
    arrays, one per row) as one float64 matrix with a row per vector;
    (0, 0) for an empty batch. Every vector pandas UDF converts its input
    with this."""
    if len(vecs) == 0:
        return np.empty((0, 0))
    return np.stack(list(vecs)).astype(np.float64, copy=False)


def _unit_rows(M: np.ndarray) -> np.ndarray:
    """``M`` with every row scaled to unit L2 norm, in place."""
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    return M


def _collect_matrix(base: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(ids_sorted, row-normalized matrix sorted by id) via ``toArrow()``
    — one Arrow batch transfer into flat buffers instead of a Row-object
    collect (several GB of Python-object overhead at the 1M-row budget
    ceiling; ADVICE r12)."""
    tbl = base.select("id", "vec").toArrow()
    ids = tbl.column("id").to_numpy(zero_copy_only=False).astype(np.int64)
    vec = tbl.column("vec").combine_chunks()
    flat = np.asarray(vec.flatten(), dtype=np.float64)
    n = len(ids)
    if n == 0:
        return ids, flat.reshape(0, 0)
    d = len(flat) // n
    if n * d != len(flat):
        raise ValueError("ragged embedding column: all vectors must share "
                         f"one dimension (n={n}, total={len(flat)})")
    M = _unit_rows(flat.reshape(n, d))
    order = np.argsort(ids)
    return ids[order], M[order]


def _gemm_pairs(ida: np.ndarray, A: np.ndarray, idb: np.ndarray,
                B: np.ndarray, threshold: float, symmetric: bool):
    """Yield, per 1024-row block of ``A``, the (id_a, id_b, cos) frame of
    every row pair of unit-vector matrices ``A`` x ``B`` whose cosine,
    rounded 6dp, is >= ``threshold``, with id_a < id_b. ``symmetric``
    says ``B``'s rows include ``A``'s, so each pair appears twice and the
    id_a > id_b copy (and every self-pair) is dropped; otherwise the id
    sets are disjoint and each pair is put in order.

    The GEMM runs in 1024 x 8192 tiles, rounded IN PLACE, so a float64
    temp stays at 64 MB (ADVICE r12: 1024 x 65536 was 512 MB, doubled by
    np.round's copy, on top of the matrices themselves)."""
    for i in range(0, len(ida), 1024):
        ia_blk, Ai = ida[i:i + 1024], A[i:i + 1024]
        out = [(ia_blk[:0], idb[:0], np.empty(0))]
        for j in range(0, len(idb), 8192):
            S = Ai @ B[j:j + 8192].T
            np.round(S, 6, out=S)
            hit_r, hit_c = np.nonzero(S >= threshold)
            ia, ib, cs = ia_blk[hit_r], idb[j + hit_c], S[hit_r, hit_c]
            if symmetric:
                keep = ia < ib
                out.append((ia[keep], ib[keep], cs[keep]))
            else:
                out.append((np.minimum(ia, ib), np.maximum(ia, ib), cs))
        id_a, id_b, cos = map(np.concatenate, zip(*out))
        yield pd.DataFrame({"id_a": id_a, "id_b": id_b, "cos": cos})


def _exact_pairs_blocked(base: DataFrame, threshold: float) -> DataFrame:
    """EXACT all-pairs cosine >= threshold without materializing the O(n²)
    id-pair relation: the normalized matrix ships to every task (the
    dimension-table broadcast the byte gate already approved) and each
    Arrow batch of ids computes its block-row of the similarity matrix
    with BLAS (blocked GEMM, :func:`_gemm_pairs`), emitting only the
    surviving upper-triangle pairs. n=1M x d=64 is a 512 MB broadcast and
    ~3e13 FLOPs — seconds per executor on a 1000-executor cluster — where
    an id-pair BNLJ would shuffle 5e11 rows. Values match the DuckDB
    all-pairs oracle exactly (round 6), at ANY threshold."""
    ids_sorted, M_sorted = _collect_matrix(base)

    def gen(batches):
        for pdf in batches:
            bidx = np.searchsorted(ids_sorted, pdf["id"].to_numpy())
            yield from _gemm_pairs(ids_sorted[bidx], M_sorted[bidx],
                                   ids_sorted, M_sorted, threshold, True)

    n_parts = max(base.sparkSession.sparkContext.defaultParallelism, 1)
    return (base.select("id").repartition(n_parts)
            .mapInPandas(gen, "id_a long, id_b long, cos double"))


# per-task block budget for the grid path: each task holds TWO blocks of
# the normalized matrix (plus the GEMM temp), so 128 MB keeps task memory
# ~comfortably under 1 GB with pandas overhead. Replication factor of the
# groupBy shuffle is k = ceil(matrix_bytes / block_bytes) — grow the block
# with executor memory to shrink the shuffle.
_GRID_BLOCK_BYTES_MAX = 128 << 20


def _exact_pairs_grid(base: DataFrame, threshold: float, k: int
                      ) -> DataFrame:
    """EXACT all-pairs cosine >= threshold ABOVE the single-matrix
    broadcast budget: 2-D blocked GEMM over the upper triangle of a
    k x k block grid (the SUMMA-style decomposition used by distributed
    matrix multiply, e.g. Spark MLlib's BlockMatrix).

    Rows hash into ``k`` row-blocks; one task per block pair (i, j),
    i <= j, receives exactly blocks i and j via a grouped shuffle and
    BLAS-multiplies them (:func:`_gemm_pairs`), emitting only the
    surviving pairs. No task ever holds more than two blocks; nothing
    O(n²) is shuffled (the k(k+1)/2 grid replicates each input row k
    times — matrix_bytes x k total shuffle, the standard 2-D-grid matmul
    communication bound). Exact at ANY n and ANY threshold, and
    bit-identical to _exact_pairs_blocked (same normalize, same GEMM
    tiles, same round(6))."""
    blocked = base.withColumn(
        "blk", F.pmod(F.xxhash64(F.col("id")), F.lit(k)).cast("int"))
    grid = base.sparkSession.createDataFrame(
        [(i, j) for i in range(k) for j in range(i, k)], "bi int, bj int")
    # broadcast the k(k+1)/2-row grid against the data: a row in block b
    # feeds every grid task whose bi or bj is b (k tasks)
    left = (blocked.join(F.broadcast(grid), F.col("blk") == F.col("bi"))
            .select("bi", "bj", F.lit(0).alias("side"), "id", "vec"))
    right = (blocked.join(F.broadcast(grid.filter("bi <> bj")),
                          F.col("blk") == F.col("bj"))
             .select("bi", "bj", F.lit(1).alias("side"), "id", "vec"))

    def block(pdf):
        return (pdf["id"].to_numpy().astype(np.int64),
                _unit_rows(_vec_matrix(pdf["vec"])))

    def compute(key, pdf):
        ida, A = block(pdf[pdf["side"] == 0])
        same = key[0] == key[1]
        idb, B = (ida, A) if same else block(pdf[pdf["side"] == 1])
        frames = list(_gemm_pairs(ida, A, idb, B, threshold, same))
        if not frames:
            return pd.DataFrame(columns=["id_a", "id_b", "cos"])
        return pd.concat(frames, ignore_index=True)

    return left.unionByName(right).groupBy("bi", "bj").applyInPandas(
        compute, "id_a long, id_b long, cos double")


def embedding_near_dup_pairs(df: DataFrame, threshold: float = 0.95,
                             id_col: str = "vec_id", vec_col: str = "embedding",
                             dim: int = 64, n_rows: int | None = None,
                             broadcast_bytes_max: int = _BCAST_BYTES_MAX,
                             grid_block_bytes: int = _GRID_BLOCK_BYTES_MAX
                             ) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= threshold, EXACT at
    every scale; the two physical strategies are value-identical and a
    byte gate picks one:

    * **exact** — single-matrix blocked GEMM while the normalized matrix
      fits the broadcast byte budget (n*dim*8 <= broadcast_bytes_max —
      1M rows at d=64 under the default 512 MB): every task scores its
      Arrow batch's block-row against the broadcast matrix with BLAS; no
      O(n²) shuffle, matches the all-pairs oracle.
    * **grid** — ABOVE the budget: 2-D blocked GEMM over the upper
      triangle of a k x k block grid, one task per block pair, each
      holding two <=``grid_block_bytes`` blocks. Shuffle = matrix_bytes x
      k (the standard distributed-matmul communication bound), never
      O(n²) rows.

    Pass ``n_rows`` (manifest total_rows / parquet footer count) to pick
    the strategy without a driver-side scan; without it the gate costs a
    ``df.count()``."""
    n = n_rows if n_rows is not None else df.count()
    est_bytes = n * dim * 8
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    if est_bytes <= broadcast_bytes_max:
        _gate("embedding_strategy", "exact", n_rows=n,
              est_bytes=est_bytes, budget=broadcast_bytes_max)
        return _exact_pairs_blocked(base, threshold)
    k = max(2, int(-(-est_bytes // grid_block_bytes)))
    _gate("embedding_strategy", "exact_grid", n_rows=n,
          est_bytes=est_bytes, budget=broadcast_bytes_max,
          grid_k=k, block_bytes=grid_block_bytes)
    return _exact_pairs_grid(base, threshold, k)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 60
_EMPTY_U64 = np.empty(0, dtype=np.uint64)


def simhash(text: Column | str, bits: int = _SIMHASH_BITS) -> Column:
    """Per-token md5 -> first 15 hex chars -> 60-bit int; bit-majority vote
    over tokens. 60 bits (not 64) keeps the value inside signed-long range;
    wide hashes matter — a 32-bit simhash over a small vocabulary collides
    catastrophically (observed: 4.5M candidate pairs on 5k docs).

    Split execution: token hashing stays JVM-side (codegen'd md5 + conv in
    one array transform — one op per token); the 60-way bit-majority vote —
    which as a SQL fold is 60 interpreted lambda passes per token — runs as
    one vectorized numpy pass per Arrow batch. Exact integer math
    throughout, so the value is bit-identical to the pure-SQL formulation
    the DuckDB oracle uses (hex-cast + ``>>`` votes)."""
    assert bits == _SIMHASH_BITS, "bit layout is fixed at 60 (15 hex chars)"
    tok_hash = sql_apply(text, lambda t: (
        f"transform(array_distinct({tokens_sql(f'lower({t})')}), __w -> "
        f"CAST(conv(substring(md5(__w), 1, 15), 16, 10) AS BIGINT))"))
    return _simhash_vote_udf(SparkContext._active_spark_context)(tok_hash)


def _simhash_vote_batch(hashes, bits: int = _SIMHASH_BITS) -> np.ndarray:
    """Vectorized bit-majority vote over a batch of token-hash arrays
    (guide §4.2): the former per-row loop paid ~6 small numpy calls per
    DOCUMENT; this shape pays ``bits`` reduceat calls per BATCH, one
    bit-column at a time into a reused uint64 buffer so the transient
    stays O(total_tokens) with zero per-bit allocations — never the
    tokens x bits matrix (which at 10k rows/batch would be ~1 GB).
    Measured 5x on the testdata token shape (~23 distinct tokens/doc)
    and 1.6x on 20-200-token docs. Same exact integer math per row:
    sum of bit b over the row's token hashes, vote = 2*sum - n_tokens,
    bit set iff vote > 0 — bit-identical to the per-row form and to the
    DuckDB oracle's hex-cast + ``>>`` votes (pinned by
    tests/test_simhash_vote_vectorized.py)."""
    n = len(hashes)
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        return out
    arrs = [np.asarray(hs, dtype=np.uint64)
            if hs is not None else _EMPTY_U64 for hs in hashes]
    lens = np.fromiter((a.size for a in arrs), np.int64, n)
    nz = np.flatnonzero(lens)
    if nz.size == 0:
        return out
    flat = np.concatenate([arrs[i] for i in nz])
    starts = np.zeros(nz.size, dtype=np.int64)
    np.cumsum(lens[nz][:-1], out=starts[1:])
    ones = np.empty((nz.size, bits), dtype=np.int64)
    one = np.uint64(1)
    tmp = np.empty_like(flat)
    for b in range(bits):
        np.right_shift(flat, np.uint64(b), out=tmp)
        np.bitwise_and(tmp, one, out=tmp)
        # uint64 partial sums assign exactly into the int64 column:
        # each is <= the row's token count, far below 2**63
        ones[:, b] = np.add.reduceat(tmp, starts)
    votes = ones * 2 - lens[nz][:, None]
    shifts = np.arange(bits, dtype=np.uint64)
    vals = ((votes > 0).astype(np.uint64) << shifts).sum(axis=1)
    out[nz] = vals.astype(np.int64)   # bits < 63, so in signed range
    return out


@functools.lru_cache(maxsize=1)
def _simhash_vote_udf(sc):
    """The vote UDF, built once per SparkContext ``sc`` (the cache key):
    its first application pickles the function and registers it in that
    context's JVM, so a restarted session builds a new one."""
    @F.pandas_udf("long")
    def vote(hashes: pd.Series) -> pd.Series:
        return pd.Series(_simhash_vote_batch(hashes))
    return vote


def _simhash_hash_pairs(groups: DataFrame, bands: int,
                        max_hamming: int) -> DataFrame:
    """Verified near-dup pairs over DISTINCT SimHash values (``sh_a < sh_b``
    + ``hamming``): band each hash into ``bands`` chunks, group per chunk
    key, emit ordered pairs from the sorted member array, verify with
    popcount. Shared by the pair and cluster APIs so the banding math
    cannot diverge between them.

    ``groups`` has one row per distinct ``sh``; its other columns ride the
    chunk groups and come out as ``<col>_a`` / ``<col>_b`` on each pair, so
    no join re-attaches them. Members sort by the unique ``sh`` alone.

    Canonical-band emission: both full hashes are present inside the
    group, so each pair is emitted only from its FIRST shared chunk (no
    earlier chunk j < bi agrees — integer shift/mask math), exactly once,
    with no ``distinct()`` exchange over the pair stream, the stream that
    goes quadratic on hot chunks."""
    width = _SIMHASH_BITS // bands
    mask = (1 << width) - 1
    payload = [c for c in groups.columns if c != "sh"]

    def chunk(col: str, i: int) -> str:
        return f"(shiftright({col}, {i * width}) & {mask})"

    hc = groups.selectExpr(
        "struct(" + ", ".join(["sh", *payload]) + ") AS m",
        "posexplode(array(" + ", ".join(chunk("sh", i) for i in range(bands))
        + ")) AS (bi, cv)")
    grouped = (hc.groupBy("bi", "cv")
               .agg(F.expr("array_sort(collect_list(m))").alias("ms"))
               .where("size(ms) >= 2"))
    # first-shared-chunk filter: band 0 always emits; band b emits only
    # when no chunk j < b agrees (an agreeing earlier chunk means the
    # same pair already surfaced in that chunk's group). posexplode
    # bounds bi to [0, bands); an out-of-range band emits nothing
    # (explicitly, rather than through a NULL filter result)
    arms = ["WHEN bi = 0 THEN true"] + [
        f"WHEN bi = {b} THEN NOT (" + " OR ".join(
            f"{chunk('p.a.sh', j)} = {chunk('p.b.sh', j)}" for j in range(b))
        + ")" for b in range(1, bands)]
    return (grouped.selectExpr(
                "bi", "explode(flatten(transform(ms, (__x, __i) -> "
                "transform(slice(ms, __i + 2, size(ms)), __y -> "
                "named_struct('a', __x, 'b', __y))))) AS p")
            .where("CASE " + " ".join(arms) + " ELSE false END")
            .selectExpr("p.a.sh AS sh_a", "p.b.sh AS sh_b",
                        *(f"p.{s}.{c} AS {c}_{s}" for c in payload
                          for s in "ab"),
                        "bit_count(p.a.sh ^ p.b.sh) AS hamming")
            .where(f"hamming <= {int(max_hamming)}"))


def simhash_near_dup_pairs(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", max_hamming: int = 3,
                           bands: int = 4) -> DataFrame:
    """Near-dups by SimHash: band the hash into ``bands`` chunks — any pair
    within ``bands-1`` differing bits shares >= 1 exact chunk (pigeonhole),
    so candidates come from per-chunk groups, verified by popcount.

    The banding runs on DISTINCT hashes (template-heavy corpora have far
    fewer hashes than docs — 3812 vs 5000 in the test corpus), so a skewed
    chunk group is quadratic in hashes, not docs; each hash's id list
    rides its chunk groups, and a surviving hash pair expands to its id
    pairs exactly once, with no join and no id-level ``distinct()``.

    ONE lazy plan, no Spark job before the caller's action: the per-hash
    groups feed the chunk groups and the same-hash pairs through one
    reused exchange."""
    text = sql_ident(text_col)
    h = simhash(text)
    base = _spread(df.selectExpr(f"{sql_ident(id_col)} AS id", text)) \
        .select("id", h.alias("sh"))
    groups = base.groupBy("sh").agg(F.expr("collect_list(id) AS ids"))
    # cross-hash expansion: each (sh_a < sh_b) pair appears once, and a doc
    # belongs to exactly one hash group, so no id-level dedup is needed
    cross = (_simhash_hash_pairs(groups, bands, max_hamming)
             .selectExpr("explode(ids_a) AS ia", "ids_b", "hamming")
             .selectExpr("ia", "explode(ids_b) AS ib", "hamming")
             .selectExpr("least(ia, ib) AS id_a", "greatest(ia, ib) AS id_b",
                         "hamming"))
    # same-hash pairs (hamming 0): ordered combinations within each group,
    # generated JVM-side with array HOFs — no join, no shuffle
    same = (groups.where("size(ids) > 1")
            .selectExpr("explode(flatten(transform(ids, x -> "
                        "transform(filter(ids, y -> y > x), "
                        "y -> struct(x AS id_a, y AS id_b))))) AS p")
            .selectExpr("p.id_a", "p.id_b", "CAST(0 AS INT) AS hamming"))
    return cross.unionByName(same)


# ---------------------------------------------------------------------------
# cluster representatives — dedup as "keep one per near-dup cluster"
# ---------------------------------------------------------------------------
# Pair listing is quadratic in duplicate multiplicity (a doc with k copies
# contributes C(k,2) pairs — measured 113M pairs on a 50k-doc corpus with
# 10x duplication). The pipeline-scale API is the cluster view: connected
# components over the candidate-pair graph, keep the min id per component.

# edges collected for the driver union-find fast path: 2 longs/row ≈ 16 B,
# so 5M edges ≈ 80 MB driver-side — far under the broadcast budget. The
# candidate-pair graphs this runs on are distinct-hash- or near-dup-sized
# (tiny fractions of the corpus), so the gate almost always takes this path.
_UF_EDGES_MAX = 5_000_000


def _clusters_union_find(spark, rows) -> DataFrame:
    """Min-root union-find over collected (a, b) edge rows — identical
    components and labels (cluster = min member) to the propagation loop,
    zero shuffle rounds."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:        # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    ids = list(parent)
    labels = pd.DataFrame({"id": np.asarray(ids, dtype=np.int64),
                           "cluster": np.asarray([find(i) for i in ids],
                                                 dtype=np.int64)})
    # pandas input rides the Arrow createDataFrame fast path; a list of
    # tuples would be pickled row by row
    return spark.createDataFrame(labels, "id long, cluster long")


def near_dup_clusters(pairs: DataFrame, id_a: str = "id_a",
                      id_b: str = "id_b", max_iter: int = 50,
                      driver_edges_max: int = _UF_EDGES_MAX) -> DataFrame:
    """(id, cluster) rows: connected components of the pair graph; cluster
    is the min id in the component. Only ids appearing in ``pairs`` are
    returned.

    Physical strategy: up to ``driver_edges_max`` edges the graph is
    collected and solved with union-find on the driver (near-constant time;
    candidate graphs are small by construction — distinct hashes or LSH
    survivors, not the corpus). Above the gate it falls back to iterative
    min-label propagation (one groupBy per round, bounded by component
    diameter) — a hamming-chained hash graph can have diameter in the tens,
    and each propagation round is a full shuffle, so the driver path is
    also the fast path whenever it fits.

    Raises ``RuntimeError`` if labels still change after ``max_iter``
    propagation rounds (a component with diameter > max_iter) rather than
    silently returning split clusters."""
    p2 = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    if driver_edges_max > 0:
        # ONE Arrow-batched job decides the gate AND delivers the edges:
        # <= max rows means the limit+1 transfer already holds the whole
        # graph (the former materialize + count + Row-object collect was
        # three jobs and several GB of Python Row overhead at the cap)
        tbl = p2.limit(driver_edges_max + 1).toArrow()
        if tbl.num_rows <= driver_edges_max:
            _gate("cluster_solver", "driver_union_find",
                  edges=tbl.num_rows, budget=driver_edges_max)
            return _clusters_union_find(
                pairs.sparkSession,
                zip(tbl.column("a").to_pylist(),
                    tbl.column("b").to_pylist()))
    p2 = _materialize(p2)
    n_edges = p2.count()
    _gate("cluster_solver", "distributed_propagation",
          edges=n_edges, budget=driver_edges_max)
    edges = p2.unionByName(p2.select(F.col("b").alias("a"),
                                     F.col("a").alias("b")))
    # every round's labels are localCheckpoint'ed eagerly: the next round
    # joins them twice (directly and through prop), so without the cut
    # the plan grows ~2.3x per round. At most two rounds' labels (current
    # + next) hold blocks at once; the superseded one is dropped by hand,
    # the returned one when Spark's ContextCleaner collects its RDD.
    labels = (edges.groupBy("a").agg(F.min("b").alias("nbr"))
              .select(F.col("a").alias("id"),
                      F.least("a", "nbr").alias("cluster"))
              ).localCheckpoint(eager=True)
    changed = 1
    for _ in range(max_iter):
        # propagate: my label = min(my label, labels of my neighbors)
        prop = (edges.join(labels.withColumnRenamed("id", "b")
                                 .withColumnRenamed("cluster", "nbr_cluster"), "b")
                .groupBy("a").agg(F.min("nbr_cluster").alias("nbr_min")))
        nxt = (labels.join(prop.withColumnRenamed("a", "id"), "id", "left")
               .select("id", F.least("cluster", F.coalesce("nbr_min", "cluster"))
                             .alias("cluster"))).localCheckpoint(eager=True)
        changed = (labels.withColumnRenamed("cluster", "old")
                   .join(nxt, "id")
                   .filter(F.col("old") != F.col("cluster")).count())
        _drop_checkpoint(labels)
        labels = nxt
        if changed == 0:
            break
    if changed != 0:
        _drop_checkpoint(labels)
        raise RuntimeError(
            f"near_dup_clusters did not converge in {max_iter} rounds "
            f"(a component has diameter > {max_iter}); raise max_iter")
    return labels


def _drop_checkpoint(df: DataFrame) -> None:
    """Free the blocks of a ``localCheckpoint`` frame: its plan is a
    LogicalRDD over the checkpointed RDD, which ``DataFrame.unpersist``
    does not reach."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def dedup_by_pairs(df: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id", id_a: str = "id_a",
                   id_b: str = "id_b") -> DataFrame:
    """Drop every row that belongs to a near-dup cluster but is not its
    min-id representative. Rows never seen in ``pairs`` pass through —
    the anti-join touches only clustered ids, so the big side streams.
    ``id_a``/``id_b`` name the pair columns in ``pairs``."""
    clusters = near_dup_clusters(pairs, id_a=id_a, id_b=id_b)
    losers = clusters.filter(F.col("id") != F.col("cluster")) \
        .select(F.col("id").alias(id_col))
    return df.join(losers, id_col, "left_anti")


def simhash_dedup(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", max_hamming: int = 3,
                  bands: int = 4) -> DataFrame:
    """Deduplicated corpus by SimHash clusters WITHOUT materializing id
    pairs: clustering runs on the distinct-hash graph (thousands of nodes
    for a template corpus, regardless of document count), then each hash
    group keeps ids only if its hash is the cluster representative's hash
    group — inside a group only the min id survives."""
    text = sql_ident(text_col)
    h = simhash(text)
    base = _spread(df.selectExpr(f"{sql_ident(id_col)} AS id", text)) \
        .select("id", h.alias("sh"))
    # lazy persist (r14): the first consumer is the cluster gate's single
    # Arrow collect (near_dup_clusters); the member/rep joins in the
    # returned plan then read the cache — the eager count here was a whole
    # extra pass over the signature computation. That gate collects
    # limit(driver_edges_max + 1).toArrow(), which may stop before every
    # partition is scanned, so the cache can be only partly filled: the
    # joins then recompute the signatures of the uncached partitions
    groups = _persist(base.groupBy("sh").agg(F.min("id").alias("min_id"),
                                             F.collect_list("id").alias("ids")))
    hpairs = _simhash_hash_pairs(groups.select("sh"), bands, max_hamming)
    # hash -> cluster-root hash
    hclusters = near_dup_clusters(hpairs, id_a="sh_a", id_b="sh_b")
    # representative id per cluster = min over member hashes' min ids
    member = (groups.join(hclusters.withColumnRenamed("id", "sh"), "sh", "left")
              .withColumn("cluster", F.coalesce("cluster", "sh")))
    rep = (member.groupBy("cluster").agg(F.min("min_id").alias("rep_id")))
    keep = (member.join(rep, "cluster")
            .select(F.explode("ids").alias("id"), "rep_id")
            .filter(F.col("id") == F.col("rep_id"))
            .select(F.col("id").alias(id_col)))
    return df.join(keep, id_col, "left_semi")


def ngrams_from_tokens(toks: Column, n: int) -> Column:
    """Word n-grams from an ALREADY-MATERIALIZED token-array column.
    Feed this a projected column, not the tokenize expression itself:
    Catalyst inlines a raw expression into every per-position lambda call,
    re-running the regex split O(tokens) times per document (measured 2x
    wall on the gram explode). array_join over the slice beats concat_ws's
    varargs/null handling (measured -15% on the 8-gram explode at sf0.1)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                    lambda i: F.array_join(F.slice(toks, i, n), " "))
    ).otherwise(F.array().cast("array<string>"))


def decontaminate(docs: DataFrame, benchmark: DataFrame, n: int = 8,
                  text_col: str = "text", id_col: str = "doc_id",
                  carry_cols: tuple = ()) -> DataFrame:
    """Benchmark decontamination (the GPT-3/Llama training-data recipe):
    flag training documents sharing any word ``n``-gram with a held-out
    benchmark/eval set, so they can be dropped before training.

    Distributed shape: the benchmark's distinct n-grams are a SMALL table
    (eval sets are tiny next to a 100 TB corpus) -> broadcast; training
    docs explode their n-grams once and probe the broadcast set — one
    narrow pass over the corpus, one map-side join, no shuffle keyed on
    corpus size (only the per-doc re-aggregation, keyed on doc id).

    Returns one row per training doc: ``n_grams``, ``n_contaminated``
    (grams hitting the benchmark), ``contaminated`` flag.
    """
    lower_toks = F.expr(tokens_sql(f"lower({sql_ident(text_col)})"))
    bg = (_spread(benchmark.select(text_col))
          .select(lower_toks.alias("__toks__"))
          .select(F.explode(ngrams_from_tokens(F.col("__toks__"), n))
                   .alias("gram"))
          .distinct())
    keep = [id_col, *carry_cols]
    dg = (_spread(docs.select(*keep, text_col))
          .select(*keep, lower_toks.alias("__toks__"))
          .select(*keep,
                  F.explode_outer(ngrams_from_tokens(F.col("__toks__"), n))
                   .alias("gram")))
    j = dg.join(F.broadcast(bg.withColumn("__hit__", F.lit(1))),
                "gram", "left")
    return (j.groupBy(*keep)
             .agg(F.count(F.col("gram")).alias("n_grams"),
                  F.count(F.col("__hit__")).alias("n_contaminated"))
             .withColumn("contaminated", F.col("n_contaminated") > 0))


def duplicate_ngram_fraction(df: DataFrame, n: int = 8,
                             text_col: str = "text", id_col: str = "doc_id",
                             carry_cols: tuple = ()) -> DataFrame:
    """Per-document duplicate n-gram fraction (Gopher / RefinedWeb-style
    corpus quality signal): the share of a doc's token n-grams that also
    appear in at least one OTHER document. High values flag boilerplate and
    template spam that survives whole-doc dedup.

    Distributed shape (the CCNet recipe): explode n-grams -> corpus-wide
    count of distinct source docs per n-gram (map-side combinable groupBy
    on the gram) -> join back on the gram -> per-doc fraction. Both
    shuffles key on the n-gram / doc id; no driver-side state, no
    all-pairs anything — linear in total tokens at any corpus size.
    """
    keep = [id_col, *carry_cols]
    # pre-combine per (doc, gram): downstream sees one row per distinct
    # gram per doc (carrying its in-doc multiplicity) instead of every
    # gram instance — the per-gram doc count is then a plain count(*)
    # rather than an expensive exact countDistinct expansion
    g2 = (_spread(df.select(*keep, text_col))
            .select(*keep, F.expr(tokens_sql(f"lower({sql_ident(text_col)})"))
                            .alias("__toks__"))
            .select(*keep, F.explode(ngrams_from_tokens(F.col("__toks__"), n))
                            .alias("gram"))
            .groupBy(*keep, "gram").agg(F.count(F.lit(1)).alias("c")))
    # per-gram doc count as ONE window over the gram partition (r14,
    # guide §2.4): the former groupBy("gram") + left-join-back consumed g2
    # twice — persist + two shuffles + a join; count().over(gram) computes
    # the same n_docs_with (g2 is unique per (doc, gram), so rows per
    # gram = docs per gram) in the single gram shuffle, and g2 goes back
    # to one consumer with no persist
    from pyspark.sql import Window
    w = Window.partitionBy("gram")
    per = (g2.withColumn("__nd__", F.count(F.lit(1)).over(w))
             .groupBy(*keep)
             .agg(F.sum("c").alias("n_grams"),
                  F.coalesce(F.sum(F.when(F.col("__nd__") > 1, F.col("c"))),
                             F.lit(0)).alias("n_dup_grams")))
    return per.withColumn(
        "dup_ngram_frac",
        F.round(F.col("n_dup_grams") / F.col("n_grams").cast("double"), 6))
