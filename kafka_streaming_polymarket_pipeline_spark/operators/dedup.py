"""Deduplication operators for large-scale training-data pipelines.

Five families, each designed partition-parallel for 100 TB:

- **exact**: content-hash groupBy (one shuffle on the hash).
- **n-gram Jaccard (exact)**: shingle inverted index -> pair intersection
  counts -> |A∩B| / (|A|+|B|-|A∩B|). Quadratic in co-shingled docs; the
  ground truth the approximate methods are measured against.
- **MinHash + LSH**: per-doc signature of NUM_PERM universal-hash minima,
  banded into BANDS buckets; only same-bucket pairs are candidates, then
  exact-Jaccard verified. At J>=0.5 with 64 bands x 2 rows the miss
  probability per true pair is (1-0.5^2)^64 ~ 1e-8, so the verified output
  equals the exact pair set while scaling near-linearly.
- **SimHash**: 64-bit charge/discharge fingerprint over token md5 bits;
  near-dups differ in few bits (compare via hamming distance on the hex
  signature).
- **embedding cosine**: near-dup pairs above a cosine threshold over an
  ``array<float>`` column (brute pairs here; the LSH-bucketed scale path is
  operators/similarity.py).

Everything is built-in-function Spark except one kernel: higher-order
array ops for shingles, joins + aggregates for pair math, and the LSH
funnel's payload (signature + hash set per doc) as a numpy fold over
Arrow batches inside the shingle stage (:func:`_fold_payload`). Every
funnel variant builds its payload there: the permutation-minima
signature (d3, d7, d13, d18, the router's LSH leg, the streaming sink),
the OPH signature (d3d) and the DF-pruned stream (d3c).
"""

from __future__ import annotations

import random
import sys
from collections.abc import Callable

from pyspark import cloudpickle
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, LongType, StructField, StructType

from kafka_streaming_polymarket_pipeline_spark.operators.text import char_shingles

# --- MinHash parameters (fixed seed so signatures are reproducible) -------
NUM_PERM = 128

# Above this many docs the LSH est/verify joins stop broadcasting the
# signature / hashed-shingle projections of the payload and switch to
# shuffle-hash on doc_id (candidate-local either way).  ~1 KB/doc of
# 128-int signatures and a similar hashed-array payload put the
# broadcast budget around a few hundred MB; the 100 TB path needs no
# code edit.
BROADCAST_VERIFY_MAX_DOCS = 500_000


def _doc_side(df: DataFrame, n_docs: int | None) -> DataFrame:
    """Join-strategy selector for the per-doc payload side of the LSH
    est/verify equi-joins: broadcast while the doc count fits the
    budget, shuffle-hash beyond it (the payload side is aggregated and
    thus smaller than the probe side — SHJ, not SMJ, is the right
    fallback; SCALE.md names the swap).  ``n_docs=None`` (size unknown)
    keeps the legacy broadcast hint."""
    if n_docs is None or n_docs <= BROADCAST_VERIFY_MAX_DOCS:
        return F.broadcast(df)
    return df.hint("shuffle_hash")
BANDS = 64  # default banding: 64 bands x r=2 rows (threshold >= 0.5 regime)
_MERSENNE_P = 4_294_967_311  # prime > 2^32
_rng = random.Random(42)
_PERM_A = [_rng.randrange(1, 1 << 30) for _ in range(NUM_PERM)]
_PERM_B = [_rng.randrange(0, _MERSENNE_P) for _ in range(NUM_PERM)]


# --- The funnel's NUM_PERM-wide expressions, as SQL text -------------------
#
# Every PySpark Column operation is at least one py4j round trip to the
# JVM. Built from Columns, the 128-wide band and agreement expressions
# below cost thousands of round trips per operator (seconds of driver
# time, paid by every streaming micro-batch before a task runs). They are
# built here once, as SQL text, and each operator hands its text to the
# JVM in one call (selectExpr, F.expr). The text spells the Column form's
# expressions in the same order with the same literal types.
#
# Not spark.sql(text, t=df): that binds frames through temporary views,
# and dropping such a view uncaches the frame it wraps, which would evict
# the persisted payload the funnel's consumers read.


def _band_structs(r: int) -> str:
    """One ``(band_id, band_hash)`` struct per band of ``r`` signature
    columns, exploded to one row per band as ``bk``."""
    return "explode(array({})) AS bk".format(", ".join(
        f"struct({b} AS band_id, xxhash64({', '.join(f'm{b * r + i}' for i in range(r))}) AS band_hash)"
        for b in range(NUM_PERM // r)
    ))


_BANDS = {r: _band_structs(r) for r in (1, 2)}  # the rows _lsh_params can pick
# IF(..., 1, 0), not a bare comparison: a null column counts as disagreement.
_AGREE = " + ".join(f"IF(a.m{i} = b.m{i}, 1, 0)" for i in range(NUM_PERM))


def exact_duplicate_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: group by content hash; one row per distinct content with
    its canonical (minimum) id and copy count."""
    return df.groupBy(F.md5(F.col(text_col)).alias("content_hash")).agg(
        F.min(id_col).alias("canonical_doc_id"),
        F.count("*").alias("n_copies"),
    )


def shingle_index(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 5) -> DataFrame:
    """(id, shingle) inverted index — distinct character n-grams per doc."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(char_shingles(F.col(text_col), n)).alias("sh"),
    )


def _jaccard_from_index(index: DataFrame, threshold: float) -> DataFrame:
    """Pairwise Jaccard from a shingle inverted index (exact ground truth:
    quadratic only in co-shingled docs). Returns (doc_id_a, doc_id_b, jaccard)."""
    sizes = index.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = index.select(F.col("doc_id").alias("doc_id_a"), "sh")
    b = index.select(F.col("doc_id").alias("doc_id_b"), "sh")
    pair_sh = a.join(b, "sh").filter(F.col("doc_id_a") < F.col("doc_id_b"))
    inter = pair_sh.groupBy("doc_id_a", "doc_id_b").agg(F.count("*").alias("inter"))
    sz_a = sizes.select(F.col("doc_id").alias("doc_id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("doc_id").alias("doc_id_b"), F.col("sz").alias("sz_b"))
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        inter.join(sz_a, "doc_id_a")
        .join(sz_b, "doc_id_b")
        .filter(jac >= threshold)
        .select("doc_id_a", "doc_id_b", F.round(jac, 6).alias("jaccard"))
    )


def ngram_jaccard_pairs(
    df: DataFrame, threshold: float = 0.5, n: int = 5,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Exact near-dup pairs: character-n-gram Jaccard >= threshold."""
    return _jaccard_from_index(shingle_index(df, id_col, text_col, n), threshold)


def _shingle_stream(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc_id, _p, sh): one row per shingle OCCURRENCE (multiset —
    consumers dedupe), the n-char substring that starts at 0-based
    offset ``_p``. Whole-stage-codegen explode+substring — the r10
    optimization replacing the interpreted transform(sequence) +
    array_distinct(string array) path (guide §4.1: built-ins beat
    interpreted higher-order lambdas). The Generate emits one document's
    rows consecutively, starting at ``_p = 0``, which is what
    :func:`_fold_payload` relies on. The length guard keeps sequence()
    ascending (an L<n doc would otherwise generate a DESCENDING [0,-1]
    range)."""
    return (
        df.filter(f"length(`{text_col}`) >= {n}")
        .selectExpr(
            f"`{id_col}` AS doc_id",
            f"`{text_col}` AS _t",
            f"explode(sequence(0, length(`{text_col}`) - {n})) AS _p",
        )
        .selectExpr("doc_id", "_p", f"substring(_t, _p + 1, {n}) AS sh")
    )


def _hashed_shingle_stream(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(doc_id, _p, h64): :func:`_shingle_stream` with each shingle
    hashed by xxhash64 in the same codegen stage, so no shingle string
    outlives its row."""
    return _shingle_stream(df, id_col, text_col, n).selectExpr("doc_id", "_p", "xxhash64(sh) AS h64")


# An empty signature bin: above every permutation minimum (< P) and
# every OPH value (< 2^57).
_EMPTY = (1 << 63) - 1


def _minhash_mins(h, seg, nseg: int):
    """The MinHash signature reduction: per document, for each of the
    NUM_PERM permutations, the min over its hashes of
    ``(a_i * (h64 mod 2^32) + b_i) mod P`` (int64-exact: a_i < 2^30 and
    h32 < 2^32, so every term is below 2^63).

    Like every signature reduction :func:`_fold_payload` takes: ``h`` is
    one Arrow batch's non-null int64 hashes, ``seg`` their document's
    index in the batch (non-decreasing), ``nseg`` the batch's document
    count; returns the NUM_PERM x nseg int64 bin minima, :data:`_EMPTY`
    where no hash reached a bin. ``np.minimum.reduceat`` over each
    document's run of columns."""
    import numpy as np

    out = np.full((NUM_PERM, nseg), _EMPTY, dtype=np.int64)
    starts = np.searchsorted(seg, np.arange(nseg))
    filled = np.diff(starts, append=len(seg)) > 0
    if filled.any():
        a = np.array(_PERM_A, dtype=np.int64)[:, None]
        b = np.array(_PERM_B, dtype=np.int64)[:, None]
        out[:, filled] = np.minimum.reduceat((a * (h & 0xFFFFFFFF) + b) % _MERSENNE_P, starts[filled], axis=1)
    return out


def _oph_mins(h, seg, nseg: int):
    """The One-Permutation-Hashing signature reduction (Li/Owen/Zhang,
    NIPS 2012): ONE hash per shingle instead of NUM_PERM multiply-mods.
    The low 7 bits of h64 pick one of the NUM_PERM bins, the other 57
    (``h64 >>> 7``) are the value, and each bin keeps its minimum value.
    A short document leaves bins empty; the fold densifies them by
    rotation when it emits the row. Same contract as
    :func:`_minhash_mins`."""
    import numpy as np

    out = np.full(nseg * NUM_PERM, _EMPTY, dtype=np.int64)
    values = (h.view(np.uint64) >> np.uint64(7)).astype(np.int64)
    np.minimum.at(out, seg * NUM_PERM + (h & (NUM_PERM - 1)), values)
    return np.ascontiguousarray(out.reshape(nseg, NUM_PERM).T)


def _densify(mins):
    """Rotation densification (Shrivastava/Li, ICML 2014) of a NUM_PERM x
    docs bin-minima matrix: an empty bin takes the nearest non-empty bin
    to its right, circularly, so two docs with similar shingle sets (and
    so similar emptiness patterns) borrow the same source bins and the
    densified collision probability still tracks J. A no-op for the
    permutation minima, which fill every bin of a document with a hash."""
    import numpy as np

    empty = mins == _EMPTY
    if not empty.any():
        return mins
    both = np.concatenate((mins, mins))
    at = np.where(np.concatenate((empty, empty)), 2 * NUM_PERM, np.arange(2 * NUM_PERM)[:, None])
    nearest = np.minimum.accumulate(at[::-1], axis=0)[::-1][:NUM_PERM]
    return np.take_along_axis(both, nearest, axis=0)


def _fold_payload(
    docs: DataFrame, id_col: str, stream: Callable[[DataFrame], DataFrame],
    signature: Callable = _minhash_mins,
) -> DataFrame:
    """The funnel payload (doc_id, hsh, m0..m127, sz) of every document
    that ``stream`` generates a hash for, without a shuffle after the
    Generate and without an aggregation: the one payload builder of every
    LSH funnel in the package.

    ``stream`` maps a document frame to its (doc_id, _p, h64) Generate:
    one row per shingle or token, a document's rows consecutive and the
    first at ``_p = 0`` (:func:`_hashed_shingle_stream`, the router's
    token stream, d3c's pruned stream). A null h64 is a pruned shingle:
    it keeps its document's place in the stream but adds no hash, and a
    document whose every hash is null has no payload row. ``signature``
    is the per-document signature reduction: :func:`_minhash_mins` (the
    default) or :func:`_oph_mins`.

    The documents are hash-partitioned on ``id_col`` first, with an
    explicit count (the session's default parallelism) so AQE cannot
    coalesce a small batch back to one task, and so every row of a
    doc_id sits in one partition. A ``mapInArrow`` fold
    (:func:`_payload_fold`) then reduces each document's segment to its
    signature, its sorted distinct hash set and its size, carrying a
    document that straddles two Arrow batches. The fold raises on a null
    doc_id or on a doc_id that starts a second segment: the funnel's
    pairs are only meaningful over unique ids."""
    from functools import partial

    parts = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
    rows = stream(parts)
    schema = StructType(
        [
            rows.schema["doc_id"],
            StructField("hsh", ArrayType(LongType(), False), False),
            *(StructField(f"m{i}", LongType()) for i in range(NUM_PERM)),
            StructField("sz", IntegerType(), False),
        ]
    )
    return rows.mapInArrow(partial(_payload_fold, schema, signature), schema)


def _shingle_payload(
    df: DataFrame, id_col: str, text_col: str, n: int, signature: Callable = _minhash_mins
) -> DataFrame:
    """:func:`_fold_payload` over the character n-gram stream: the payload
    of d3, d3d (``signature=_oph_mins``), d7, d13, d18 and the
    streaming-dedup batches."""
    return _fold_payload(
        df, id_col, lambda docs: _hashed_shingle_stream(docs, id_col, text_col, n), signature
    )


# The payload kernel runs on the Python workers. Pickled by value, it needs
# only numpy, pyarrow and pyspark there, not this package on their path.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _payload_fold(schema: StructType, signature: Callable, batches):
    """The :func:`_fold_payload` kernel, run on the Python workers over one
    partition's (doc_id, _p, h64) Arrow batches.

    Per batch: segment starts are the ``_p == 0`` rows, null hashes are
    dropped after segmenting, ``signature`` reduces the rest to each
    segment's bin minima, and one lexsort by (segment, hash) plus a
    neighbour compare gives each segment's distinct hashes. A batch
    whose first row has ``_p != 0`` continues the previous batch's last
    document, so that document is held back (its minima and distinct
    hashes so far) until the next segment starts or the partition ends.
    A row is emitted with its empty bins densified, and not at all when
    the document has no hash."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_schema

    out_schema = to_arrow_schema(schema)
    hsh_type = out_schema.field("hsh").type

    def emit(ids, mins, sizes, values):
        if not sizes.all():
            has = sizes > 0
            ids, mins, sizes = ids.filter(pa.array(has)), mins[:, has], sizes[has]
        offsets = np.concatenate(([0], np.cumsum(sizes)))
        return pa.RecordBatch.from_arrays(
            [
                ids,
                pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), pa.array(values), type=hsh_type),
                *(pa.array(m) for m in _densify(mins)),
                pa.array(sizes.astype(np.int32)),
            ],
            schema=out_schema,
        )

    def emit_carried(open_doc):
        ids, mins, hashes = open_doc
        values = np.unique(np.concatenate(hashes))
        return emit(ids, mins[:, None], np.array([len(values)]), values)

    open_doc = None  # (doc_id slice, minima so far, [distinct hash arrays])
    starts_seen = []
    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        ids = batch.column("doc_id")
        if ids.null_count:
            raise ValueError("MinHash payload: null doc_id")
        p = batch.column("_p").to_numpy()
        is_start = p == 0
        cont = not is_start[0]
        if cont and open_doc is None:
            raise RuntimeError(
                "MinHash payload: a partition's first shingle row is not a "
                "document start; the hash stream is not doc-contiguous"
            )
        if n > 1:
            changed = pc.not_equal(ids.slice(1), ids.slice(0, n - 1)).to_numpy(zero_copy_only=False)
            if np.any(changed & ~is_start[1:]):
                raise RuntimeError(
                    "MinHash payload: doc_id changes inside a document's "
                    "rows; the hash stream is not doc-contiguous"
                )
        bounds = np.flatnonzero(is_start)
        starts_seen.append(ids.take(pa.array(bounds)))
        if cont:
            bounds = np.concatenate(([0], bounds))
            if ids[0] != open_doc[0][0]:
                raise RuntimeError(
                    "MinHash payload: a batch continues a different document "
                    "than the one the previous batch left open"
                )
        seg = np.cumsum(is_start) - (0 if cont else 1)
        h = batch.column("h64")
        if h.null_count:  # pruned shingles: their rows segment, their hashes go
            seg = seg[h.is_valid().to_numpy(zero_copy_only=False)]
            h = h.drop_null()
        h = h.to_numpy()
        mins = signature(h, seg, len(bounds))
        order = np.lexsort((h, seg))
        hs, ss = h[order], seg[order]
        keep = np.ones(len(h), dtype=bool)
        keep[1:] = (hs[1:] != hs[:-1]) | (ss[1:] != ss[:-1])
        values = hs[keep]
        sizes = np.bincount(ss[keep], minlength=len(bounds))
        offsets = np.concatenate(([0], np.cumsum(sizes)))

        first, last = int(cont), len(bounds) - 1
        if cont:
            open_doc[1][:] = np.minimum(open_doc[1], mins[:, 0])
            open_doc[2].append(values[:offsets[1]])
            if last == 0:
                continue  # the whole batch continues the open document
            yield emit_carried(open_doc)
        elif open_doc is not None:
            yield emit_carried(open_doc)
        if last > first:
            yield emit(
                ids.take(pa.array(bounds[first:last])),
                mins[:, first:last],
                sizes[first:last],
                values[offsets[first]:offsets[last]],
            )
        open_doc = (
            ids.slice(bounds[last], 1),
            mins[:, last].copy(),
            [values[offsets[last]:]],
        )
    if open_doc is not None:
        yield emit_carried(open_doc)
    if starts_seen:
        started = pa.concat_arrays(starts_seen)
        if len(pc.unique(started)) != len(started):
            counts = pc.value_counts(started)
            repeated = counts.filter(pc.greater(counts.field("counts"), 1)).field("values")
            raise ValueError(
                f"MinHash payload: doc_id {repeated[0]} names more than one "
                "document; the payload needs unique doc_ids"
            )


def _cand_pairs(
    buckets: DataFrame, min_bands: int, corpus: DataFrame | None = None
) -> DataFrame:
    """Band-bucket join -> per-pair band-match count -> k >= min_bands cut
    (the funnel's first exactness-preserving prefilter), pairs canonical
    doc_id_a < doc_id_b.

    ``buckets`` alone: its self-join pairs (the batch funnel). With
    ``corpus`` (the band buckets of an already-indexed corpus) the
    incremental candidates, new x corpus ∪ new x new: each pair still
    surfaces once per matching band, so the cut keeps the batch funnel's
    exactness. A doc_id present on both sides (a replayed batch probing
    an index that already holds it) meets itself there; that is not a
    pair."""
    left = buckets.select(F.col("doc_id").alias("doc_id_a"), "band_id", "band_hash")
    right = buckets.select(F.col("doc_id").alias("doc_id_b"), "band_id", "band_hash")
    pairs = left.join(right, ["band_id", "band_hash"]).filter(
        F.col("doc_id_a") < F.col("doc_id_b")
    )
    if corpus is not None:
        cb = corpus.select(F.col("doc_id").alias("cid"), "band_id", "band_hash")
        nc = (
            left.join(cb, ["band_id", "band_hash"])
            .filter(F.col("doc_id_a") != F.col("cid"))
            .select(
                F.least("doc_id_a", "cid").alias("doc_id_a"),
                F.greatest("doc_id_a", "cid").alias("doc_id_b"),
            )
        )
        pairs = nc.union(pairs.select("doc_id_a", "doc_id_b"))
    return (
        pairs.groupBy("doc_id_a", "doc_id_b")
        .agg(F.count("*").alias("k"))
        .filter(F.col("k") >= min_bands)
        .drop("k")
    )


def _band_buckets(signatures: DataFrame, rows: int = 2) -> DataFrame:
    """(doc_id, band_id, band_hash): one row per band of ``rows``
    signature columns, band_hash = xxhash64 of the band's minima."""
    return signatures.selectExpr("doc_id", _BANDS[rows]).select(
        "doc_id", "bk.band_id", "bk.band_hash"
    )


# Prefilter miss budget: each exactness-preserving cut (band-count,
# signature-estimate) is sized so a true J>=threshold pair slips past it
# with probability <= ~3e-6 — the same order as the banding's own inherent
# miss. At threshold=0.5 the derivation below reproduces round-1's
# hand-calibrated constants exactly (min_bands=3, est cutoff 38/128).
_MISS_BUDGET = 3e-6


def _binom_cdf(k: int, n: int, p: float) -> float:
    """Exact P(X <= k) for X ~ Binomial(n, p) (n <= 128 here)."""
    import math

    return sum(math.comb(n, i) * p**i * (1 - p) ** (n - i) for i in range(k + 1))


def _lsh_params(threshold: float) -> tuple[int, int, int]:
    """(rows-per-band, min_bands, est_cutoff) derived from the Jaccard
    threshold so the documented 'output equals ngram_jaccard_pairs'
    contract holds for any legal threshold, not just the 0.5 the module
    constants were once calibrated for.

    - rows r: 2 for threshold >= 0.5, where the banding miss probability
      (1 - t^2)^64 <= 1e-8; 1 for 0.2 <= t < 0.5, where r=2 banding would
      silently miss up to (1-t^2)^64 ~ 2e-4 of true pairs — r=1 restores
      miss <= (1-t)^128 <= 4e-13 at the cost of fatter buckets (the
      correct trade: exactness is the contract, speed is the knob).
    - min_bands: the largest m with P(Binomial(bands, t^r) < m) <= 3e-6 —
      a true pair matches each band independently with prob >= t^r.
    - est_cutoff: 128-column agreement for a true pair is
      Binomial(128, >=t); cutoff = floor(mean - 4.5 sd), one-sided
      P(below) < 4e-6.
    """
    import math

    if threshold < 0.2:
        raise ValueError(
            f"minhash LSH threshold {threshold} < 0.2: even r=1 banding cannot "
            "guarantee the exact-output contract there; use ngram_jaccard_pairs "
            "(exact, quadratic) for very-low-similarity sweeps"
        )
    rows = 2 if threshold >= 0.5 else 1
    bands = NUM_PERM // rows
    p_band = threshold**rows
    min_bands = 1
    for m in range(2, bands + 1):
        if _binom_cdf(m - 1, bands, p_band) <= _MISS_BUDGET:
            min_bands = m
        else:
            break
    mean = NUM_PERM * threshold
    sd = math.sqrt(NUM_PERM * threshold * (1 - threshold))
    est_cutoff = max(1, math.floor(mean - 4.5 * sd))
    return rows, min_bands, est_cutoff


def minhash_lsh_dedup(
    df: DataFrame, threshold: float = 0.5, n: int = 5,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-verified.

    Funnel: band buckets propose candidate pairs (high recall: miss
    ~1e-8/pair at J>=0.5 with 64x2 banding) -> band-match count collapses
    multiplicity and drops pairs matching < min_bands bands (one narrow
    shuffle; a templated corpus's junk mass sits at k=1..2 while true pairs
    have k ~ 16+) -> signature-agreement estimate discards remaining
    low-similarity candidates (128 codegen'd column comparisons, no text
    touched) -> array_intersect of the two hashed-shingle arrays verifies
    true Jaccard. Output equals ngram_jaccard_pairs; no shingle-index
    self-join ever materializes.

    Physical notes (guide §1.2/§2.4): the documents are hash-partitioned
    on doc_id (the payload's only Exchange), then ONE codegen
    shingle-hash stream (explode+substring+xxhash64) feeds a map-local
    Arrow fold (:func:`_fold_payload`) that reduces each document's
    consecutive rows to its signature AND verify array inside the same
    stage — no shuffle after the Generate and no 128-min aggregation
    (one 200-doc streaming batch, local[4]: payload jobs 2.3 s grouped
    vs 0.6 s folded).  The
    band-count aggregation shuffles
    only (doc_id_a, doc_id_b) pairs (25M bucket-co-occurrence rows ->
    4.2M candidates at sf0.1).  The est+verify stages merged into one
    pass over the payload (two joins, not four); est kills ~98% of
    candidates before the array intersection evaluates (codegen
    short-circuit), measured 2.1 s est + 0.8 s verify at sf0.1.  The
    payload is persisted — exchange reuse does NOT fire across its
    three differently-projected consumers (banding + both join sides;
    measured round 1: 0 ReusedExchange, ~2x no-persist).  Payload sides
    broadcast at bench scale; above BROADCAST_VERIFY_MAX_DOCS the joins
    flip to shuffle-hash on doc_id — still candidate-local work.
    """
    return _payload_funnel(_shingle_payload(df, id_col, text_col, n), threshold)


def _payload_funnel(
    payload: DataFrame, threshold: float, int_pred: tuple[int, int] | None = None
) -> DataFrame:
    """The shared band -> band-count -> merged est+verify funnel over a
    prepared (doc_id, hsh, m0..m{NUM_PERM-1}, sz) payload frame, built
    by :func:`_fold_payload` for every caller: d3/d13/d18 and the
    router's LSH leg (permutation minima), d3d (OPH) and d3c (DF-pruned
    stream).

    The payload feeds FIVE consumers (banding, est sides a and b, and
    both verify-side hsh/sz projections in _verify_jaccard — ADVICE r10
    corrected the count) and is persisted: exchange reuse does NOT fire
    across the differently-projected consumers (measured round 1; the
    r10 restructure shrinks what gets persisted to ONE frame where the
    old funnel cached signatures AND hashed arrays separately)."""
    from pyspark.storagelevel import StorageLevel

    rows, min_bands, est_cutoff = _lsh_params(threshold)
    payload = payload.persist(StorageLevel.MEMORY_AND_DISK)
    n_docs = payload.count()  # materializes the persisted payload once
    cand = _cand_pairs(_band_buckets(payload, rows), min_bands)
    return _verify_jaccard(
        _est_filter(cand, payload, est_cutoff, n_docs), payload, threshold, n_docs, int_pred
    )


def minhash_lsh_dedup_oph(
    df: DataFrame, threshold: float = 0.5, n: int = 5,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """minhash_lsh_dedup with OPH signatures: same banding, same band-count
    and signature-agreement prefilters, same exact-Jaccard verification —
    the only change is the signature stage's per-shingle cost (one hash vs
    NUM_PERM multiply-mods; see :func:`_oph_mins`). Output contract is
    unchanged: equals ngram_jaccard_pairs at the same threshold.

    vs the permutation minima, the Omega(shingles x NUM_PERM) signature
    floor SCALE.md documents for d3 becomes Omega(shingles) + Theta(docs
    x NUM_PERM) for the densify; at 100 TB (shingle mass >> doc count)
    that floor is the whole game. The payload is d3's map-local fold
    with the OPH reduction: no shuffle after the Generate, no
    aggregation. Recall loss from densification would show up as a hash
    mismatch against the exact-Jaccard oracle, not silent corruption."""
    return _payload_funnel(_shingle_payload(df, id_col, text_col, n, _oph_mins), threshold)


def _est_filter(
    cand: DataFrame, sigs: DataFrame, est_cutoff: int, n_docs: int | None = None
) -> DataFrame:
    """Signature-agreement estimate over candidate pairs: keep pairs whose
    128-column agreement >= est_cutoff (codegen'd comparisons, no text);
    the cutoff comes from _lsh_params so it tracks the caller's threshold.
    ``sigs`` is any per-doc frame with doc_id and m0..m127 (the persisted
    payload included: the optimizer prunes the other columns from both
    join sides). The 128-term sum is one SQL expression (:data:`_AGREE`)
    over the two join sides aliased ``a`` and ``b``, where the Column
    form spent ~17k py4j calls on renamed projections and the sum.

    Join ORDER is load-bearing: the est joins see every candidate (4.2M
    at sf0.1) but carry only fixed-width signature columns; the hashed
    arrays (~1.5 KB/doc) join AFTER the estimate cut (_verify_jaccard),
    so only the ~1-2% surviving pairs ever copy an array into a joined
    row. A merged single-pass variant was measured 4-5x SLOWER here (the
    broadcast join materializes both arrays into every candidate row
    before the filter can kill it — 4.2M x 3 KB of memcpy)."""
    side = _doc_side(sigs, n_docs)
    return (
        cand.join(side.alias("a"), F.col("doc_id_a") == F.col("a.doc_id"))
        .join(side.alias("b"), F.col("doc_id_b") == F.col("b.doc_id"))
        .filter(F.expr(_AGREE) >= F.lit(est_cutoff))
        .select("doc_id_a", "doc_id_b")
    )


def _verify_jaccard(
    pairs: DataFrame,
    hashed: DataFrame,
    threshold: float,
    n_docs: int | None = None,
    int_pred: tuple[int, int] | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs on hashed shingle
    arrays (doc_id, hsh, sz) — the payload frame itself in the batch
    funnel, column-pruned per join side."""
    sh_a = hashed.select(
        F.col("doc_id").alias("doc_id_a"), F.col("hsh").alias("sh_a"), F.col("sz").alias("sz_a")
    )
    sh_b = hashed.select(
        F.col("doc_id").alias("doc_id_b"), F.col("hsh").alias("sh_b"), F.col("sz").alias("sz_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / (F.col("sz_a") + F.col("sz_b") - inter)
    if int_pred is None:
        # unrounded float predicate, same expression as the oracle
        keep = jac >= threshold
    else:
        # d12-family integer cross-multiplication (no float edge)
        num, den = int_pred
        keep = den * inter >= num * (F.col("sz_a") + F.col("sz_b") - inter)
    return (
        pairs.join(_doc_side(sh_a, n_docs), "doc_id_a")
        .join(_doc_side(sh_b, n_docs), "doc_id_b")
        .filter(keep)
        .select("doc_id_a", "doc_id_b", F.round(jac, 6).alias("jaccard"))
    )


def minhash_lsh_dedup_dfpruned(
    df: DataFrame, threshold: float = 0.5, n: int = 5, max_df_pct: int = 10,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Boilerplate-blind MinHash-LSH near-dup pairs: document-frequency
    pruning, the production lever for template-heavy corpora.

    Shingles present in more than ``max_df_pct``% of documents are dropped
    corpus-wide BEFORE signatures, banding, and verification; the output is
    exact Jaccard >= threshold over the PRUNED shingle sets. This is a
    deliberate, well-defined semantics change vs ``minhash_lsh_dedup``:
    near-duplication driven purely by shared boilerplate (site chrome,
    license headers, template scaffolding) no longer counts — the notion of
    similarity a training-data dedup pass usually *wants* — and the
    candidate mass the funnel must estimate collapses with it. On the
    driver's templated corpus, pruning at 10% leaves the true near-dup
    pair set unchanged (their rare shingles alone keep J >= 0.5) while
    removing ~2/3 of shingle instances and, far more importantly, the
    J in [0.15, 0.5) templated mass whose candidate pairs are the measured
    quadratic floor of the exact funnel (SCALE.md round-4 d3 sweep).

    The DF count is one groupBy on the shingle STRING (map-side combined;
    integer-exact cut ``df * 100 > pct * n_docs``, so the DuckDB oracle
    replicates the pruned set bit-for-bit; hashing the DF key would merge
    counts on 64-bit collisions, a real effect at 100 TB's ~1e12 distinct
    shingles). See :func:`_dfpruned_payload` for how the cut reaches the
    payload. Everything downstream reuses the exact funnel's machinery
    and inherits its exactness bounds relative to pruned-set Jaccard.
    """
    return _payload_funnel(_dfpruned_payload(df, id_col, text_col, n, max_df_pct), threshold)


def _dfpruned_payload(
    df: DataFrame, id_col: str, text_col: str, n: int, max_df_pct: int
) -> DataFrame:
    """The payload of d3c: :func:`_fold_payload` over the shingle stream
    with every FREQUENT shingle's hash nulled (a shingle in more than
    ``max_df_pct``% of documents), so the fold skips it. A document whose
    every shingle is frequent has no payload row, and so no pair, as in
    the oracle, where such a document has no rows in the pruned CTE.

    The stream is a LEFT OUTER join against the frequent set, broadcast:
    each frequent shingle sits in more than ``pct/100 x n_docs``
    documents, so the set holds fewer than ``100/pct x`` (mean distinct
    shingles per doc) strings, whatever the corpus size (625 strings at
    sf0.1, against a bound of ~2k). A broadcast hash join streams its
    probe side in order, so each document's rows stay consecutive for
    the fold."""
    n_docs = df.selectExpr("count(*) AS n_docs")
    frequent = (
        shingle_index(df, id_col, text_col, n)
        .groupBy("sh")
        .agg(F.expr("count(*) AS dfq"))
        .crossJoin(F.broadcast(n_docs))
        .filter(f"dfq * 100 > {max_df_pct} * n_docs")
        .selectExpr("sh", "true AS _frequent")
    )

    def stream(docs: DataFrame) -> DataFrame:
        return (
            _shingle_stream(docs, id_col, text_col, n)
            .join(F.broadcast(frequent), "sh", "left")
            .selectExpr("doc_id", "_p", "IF(_frequent IS NULL, xxhash64(sh), NULL) AS h64")
        )

    return _fold_payload(df, id_col, stream)


def minhash_lsh_incremental(
    corpus: DataFrame, new: DataFrame, threshold: float = 0.5, n: int = 5,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs *touching a new batch*, against an already-indexed
    corpus — the incremental form a 100 TB pipeline actually runs: the
    corpus's payload and band buckets are maintained as bucketed tables
    across batches (here built inline from ``corpus``; at scale they are
    the parquet reads of streaming/dedup_stream), so per-batch work is
    O(|new|) signature computation + bucket probes of the index, never a
    re-scan of the corpus text.

    Candidates = (new x corpus buckets) ∪ (new x new buckets)
    (:func:`_cand_pairs`, shared with the streaming probe), so the
    band-count >= min_bands cut has identical exactness to the batch
    funnel. Output pairs are canonicalized doc_id_a < doc_id_b and equal
    the batch pair set restricted to pairs with at least one new doc.
    """
    from pyspark.storagelevel import StorageLevel

    rows, min_bands, est_cutoff = _lsh_params(threshold)
    corpus_pl = _shingle_payload(corpus, id_col, text_col, n).persist(StorageLevel.MEMORY_AND_DISK)
    new_pl = _shingle_payload(new, id_col, text_col, n).persist(StorageLevel.MEMORY_AND_DISK)
    cand = _cand_pairs(
        _band_buckets(new_pl, rows), min_bands, _band_buckets(corpus_pl, rows)
    )
    payload = corpus_pl.unionByName(new_pl)
    n_docs = corpus_pl.count() + new_pl.count()  # materializes both payloads
    return _verify_jaccard(
        _est_filter(cand, payload, est_cutoff, n_docs), payload, threshold, n_docs
    )


# --- Near-dup clustering (connected components) -----------------------------


def neardup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components of the near-dup pair graph: every document gets a
    ``cluster_id`` = the minimum doc_id reachable through near-dup pairs
    (singletons cluster to themselves). This is the step that makes a pair
    list *actionable* for training-data dedup — "keep one doc per cluster"
    — since near-dup similarity is not transitive but its closure is.

    Iterative min-label propagation: each round every node takes the min of
    its own label and its neighbors' labels; converges in <= graph-diameter
    rounds. Near-dup graphs are dense small-diameter clumps (templated docs
    all pair with each other), so propagation finishes in a handful of
    rounds; for adversarial long-chain graphs the alternating large-star /
    small-star algorithm (Kiveris et al., "Connected Components in
    MapReduce") halves diameter per round and is the drop-in upgrade.

    Physical notes per round: one groupBy(min) over the edge list joined to
    current labels (shuffle on node id), one left join back to labels. Each
    round's result is localCheckpoint()ed — without it the lineage (and the
    codegen plan) grows linearly with rounds. The convergence probe is a
    driver-side count of changed labels; the loop is driver-coordinated but
    all data stays distributed.
    """
    # Materialize the edge list once: every propagation round (and each
    # round's convergence count) re-reads it, and without this the entire
    # upstream pair computation (e.g. the LSH funnel) would re-execute
    # per action — measured minutes instead of seconds at sf0.1.
    edges = pairs.select(
        F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst")
    ).union(pairs.select(F.col("doc_id_b").alias("src"), F.col("doc_id_a").alias("dst")))
    edges = edges.localCheckpoint(eager=True)

    labels = docs.select(F.col(id_col).alias("node"), F.col(id_col).alias("lab"))
    labels = labels.localCheckpoint(eager=True)
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("lab").alias("nbr_lab"))
        )
        new_labels = (
            labels.join(nbr_min, labels.node == nbr_min.src, "left")
            .select(
                "node",
                F.least(F.col("lab"), F.coalesce("nbr_lab", "lab")).alias("lab"),
            )
        ).localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.lab") < F.col("o.lab"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels.select(F.col("node").alias(id_col), F.col("lab").alias("cluster_id"))
    raise RuntimeError(f"neardup_clusters did not converge in {max_iter} rounds")


def keep_longest_per_cluster(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Canonical-document selection over a cluster map: one row per
    ``cluster_id`` keeping the LONGEST document (character length;
    ties -> smaller doc id) — the standard keep-the-longest-copy rule
    (C4 / RefinedWeb lineage). Input ``clusters`` is any
    (id_col, cluster_id) map (d6/d6b output, including singletons);
    output schema: (cluster_id, kept_doc_id, n_docs, kept_len).

    Physical notes: one equi-join clusters->docs on the id (to fetch
    lengths — column-pruned to exactly (id, length)), then a single
    window partitioned by cluster_id computing both the count and the
    argmax rank in one shuffle. The window is bounded by construction:
    a partition is one near-dup neighborhood, not the corpus. Length is
    an integer, so the argmax needs no float rounding contract."""
    sized = clusters.join(
        docs.select(id_col, F.length(text_col).cast("long").alias("kept_len")),
        id_col,
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("kept_len"), id_col)
    return (
        sized.withColumn("n_docs", F.count("*").over(Window.partitionBy("cluster_id")))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "cluster_id",
            F.col(id_col).alias("kept_doc_id"),
            F.col("n_docs").cast("long").alias("n_docs"),
            "kept_len",
        )
    )


def neardup_clusters_star(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — the long-chain-safe variant of ``neardup_clusters``.

    Min-label propagation needs diameter-many rounds: a 1000-doc chain is
    1000 shuffles. Star operations instead rewire the edge list so that
    every round roughly halves component height, converging in
    O(log^2 n) rounds on any graph:

    - large-star: every node's strictly-larger neighbors re-attach to the
      minimum of its closed neighborhood;
    - small-star: its smaller-or-equal neighbors (and itself) do.

    After convergence the edge list IS the component labeling: each
    component is a star rooted at its minimum id. Same output contract and
    oracle as neardup_clusters (cluster_id = min reachable id, singletons
    cluster to themselves).

    Physical notes per round: two groupBy(min) shuffles (one per star op)
    + a distinct on the rewired edges; each result localCheckpoint()ed to
    cut lineage. Convergence probe = count of edges that changed — a
    driver-side scalar, like neardup_clusters's. (r10: the probe is ONE
    job — a union of the two exceptAll legs — and the per-round
    isEmpty() probe moved out of the loop; each removed action saved a
    full driver round-trip per CC round, ~30% of the loop's fixed cost
    on small graphs where scheduling dominates.)"""
    edges = (
        pairs.select(
            F.least("doc_id_a", "doc_id_b").alias("a"),
            F.greatest("doc_id_a", "doc_id_b").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def nbrs(e: DataFrame) -> DataFrame:
        return e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )

    def closed_min(n: DataFrame) -> DataFrame:
        return n.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )

    # Empty graph: skip the loop outright — everyone is a singleton.
    # A separate flag, NOT max_iter=0 (ADVICE r10): reusing max_iter as
    # the sentinel made an explicit caller-passed max_iter=0 on a
    # NON-empty graph silently return labels from the raw unconverged
    # edge list instead of raising non-convergence.
    skip_loop = edges.isEmpty()
    for _ in range(0 if skip_loop else max_iter):
        # large-star
        n = nbrs(edges)
        m = closed_min(n)
        ls = (
            n.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # small-star
        n2 = nbrs(ls)
        m2 = closed_min(n2)
        ss = (
            n2.join(m2, "u")
            .filter(F.col("v") < F.col("u"))
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            .union(m2.filter(F.col("m") < F.col("u")).select(F.col("m").alias("a"), F.col("u").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        changed = ss.exceptAll(edges).union(edges.exceptAll(ss)).count()
        edges = ss
        if changed == 0:
            break
    else:
        if not skip_loop:
            raise RuntimeError(
                f"neardup_clusters_star did not converge in {max_iter} rounds"
            )

    # converged edge list is a star forest: (root a) < (child b), one root per child
    labels = edges.groupBy(F.col("b").alias("node")).agg(F.min("a").alias("lab"))
    return (
        docs.select(F.col(id_col).alias("node"))
        .join(labels, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("lab", "node").alias("cluster_id"),
        )
    )


# --- SimHash ---------------------------------------------------------------


def _hex_chars() -> Column:
    # Built lazily: Column literals need an active SparkSession.
    return F.array(*[F.lit(c) for c in "0123456789abcdef"])


def simhash_signatures(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash as a 16-char hex string.

    Each distinct token contributes +1/-1 per bit position from its md5's
    leading 64 bits; a signature bit is 1 where the summed charge is
    positive. Near-duplicate documents differ in few bits. md5 keeps the
    token hash engine-portable (the DuckDB oracle reproduces it exactly).
    """
    from kafka_streaming_polymarket_pipeline_spark.operators.text import tokens

    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("t"),
    )
    hx = F.md5("t")
    sums = []
    for j in range(64):
        digit = F.conv(F.substring(hx, 1 + j // 4, 1), 16, 10).cast("int")
        bit = F.shiftright(digit, 3 - (j % 4)) % 2
        sums.append(F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"b{j}"))
    charged = tok.groupBy("doc_id").agg(*sums)
    hex_chars = []
    for pos in range(16):
        d = sum(
            (F.col(f"b{4 * pos + k}") > 0).cast("int") * (1 << (3 - k)) for k in range(4)
        )
        hex_chars.append(F.element_at(_hex_chars(), d + 1))
    return charged.select("doc_id", F.concat(*hex_chars).alias("simhash"))


def hamming_hex(a: Column, b: Column) -> Column:
    """Hamming distance between two equal-length hex-string signatures."""
    idx = F.sequence(F.lit(1), F.length(a))
    per_digit = F.transform(
        idx,
        lambda i: F.bit_count(
            F.conv(a.substr(i, F.lit(1)), 16, 10).cast("long")
            .bitwiseXOR(F.conv(b.substr(i, F.lit(1)), 16, 10).cast("long"))
        ),
    )
    return F.aggregate(per_digit, F.lit(0), lambda acc, x: acc + x)


def simhash_near_pairs(df: DataFrame, max_hamming: int = 6, **kw) -> DataFrame:
    """SimHash near-dup pairs: Manku-style blocking then exact verify.

    Recall guarantee by pigeonhole: the 64 signature bits are split into
    ``max_hamming + 1`` blocks, so any pair differing in <= max_hamming bits
    agrees *exactly* on at least one block — however the differing bits are
    spread (Manku, Jain, Sarma, "Detecting Near-Duplicates for Web
    Crawling", WWW 2007). Candidates = same-(block, block-bits) bucket
    equi-join; true hamming distance is then verified, so the output is
    exactly the hamming <= max_hamming pair set. More blocks (higher
    max_hamming) means shorter block keys and fatter buckets — the standard
    recall/candidate-mass trade, but never silent misses.
    """
    return simhash_pairs_from_signatures(simhash_signatures(df, **kw), max_hamming)


def simhash_pairs_from_signatures(sig: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Blocking + verify over a precomputed (doc_id, simhash-hex) frame.
    Split out so planted-signature tests can exercise the recall guarantee
    directly."""
    n_blocks = min(max_hamming + 1, 64)
    # 64-bit binary expansion (conv is unsigned-64 internally, so 16 hex
    # chars round-trip losslessly); block q = its bit substring.
    bits = F.lpad(F.conv(F.col("simhash"), 16, 2), 64, "0")
    base, rem = divmod(64, n_blocks)
    starts, pos = [], 1
    for q in range(n_blocks):
        width = base + (1 if q < rem else 0)
        starts.append((pos, width))
        pos += width
    blocks = F.array(*[
        F.struct(F.lit(q).alias("q"), F.substring(bits, s, w).alias("qh"))
        for q, (s, w) in enumerate(starts)
    ])
    buckets = sig.select("doc_id", "simhash", F.explode(blocks).alias("bk")).select(
        "doc_id", "simhash", F.col("bk.q").alias("q"), F.col("bk.qh").alias("qh")
    )
    left = buckets.select(
        F.col("doc_id").alias("doc_id_a"), F.col("simhash").alias("sig_a"), "q", "qh"
    )
    right = buckets.select(
        F.col("doc_id").alias("doc_id_b"), F.col("simhash").alias("sig_b"), "q", "qh"
    )
    pairs = (
        left.join(right, ["q", "qh"])
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b", "sig_a", "sig_b")
        .distinct()
    )
    dist = hamming_hex(F.col("sig_a"), F.col("sig_b"))
    return pairs.select("doc_id_a", "doc_id_b", dist.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# --- Embedding cosine near-dup ----------------------------------------------


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns, sequential-fold dot
    products (bit-matching DuckDB's list_dot_product on the same input)."""
    def dot(x: Column, y: Column) -> Column:
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda acc, v: acc + v
        )

    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def embedding_near_dup_pairs(
    df: DataFrame, threshold: float = 0.45,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs by embedding cosine >= threshold (brute-force pairs;
    for the sub-quadratic scale path see operators/similarity.py LSH)."""
    def dot(x: Column, y: Column) -> Column:
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda acc, v: acc + v
        )

    v = F.col(vec_col).cast("array<double>")
    # norm folded once per vector, not once per pair (n^2/2 pairs downstream)
    base = df.select(
        F.col(id_col).alias("_id"), v.alias("_v"), F.sqrt(dot(v, v)).alias("_n")
    )
    a = base.select(F.col("_id").alias("vec_id_a"), F.col("_v").alias("_va"), F.col("_n").alias("_na"))
    b = base.select(F.col("_id").alias("vec_id_b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb"))
    pairs = a.join(b, F.col("vec_id_a") < F.col("vec_id_b"))
    c = dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    return pairs.select("vec_id_a", "vec_id_b", c.alias("_c")).filter(
        F.col("_c") >= threshold
    ).select("vec_id_a", "vec_id_b", F.round("_c", 6).alias("cosine"))


def embedding_neardup_blocked(
    df: DataFrame, threshold: float = 0.45, n_centroids: int = 16,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding near-dup pairs via metric cell blocking — the
    first-class scale path (same output as ``embedding_near_dup_pairs``,
    never a broadcast nested-loop).

    Structure (ball-tree-style spherical pruning, one level):

    1. Pick ``n_centroids`` deterministic sample centroids (per-partition
       top-C by id hash: TakeOrderedAndProject — one pass, no count, no
       global sort) and collect them — Spark-ML-style model state, C rows.
    2. Assign every vector to its max-cosine centroid with a pure column
       expression (greatest over C struct(cos, -cell) — no join at all),
       and record its angle to that centroid.
    3. Per-cell radius r_c = max member angle. A pair (x in c1, y in c2)
       can satisfy angle(x,y) <= acos(threshold) only if
       angle(c1,c2) <= acos(threshold) + r_1 + r_2 (spherical triangle
       inequality) — so only *admissible* cell pairs (a tiny <= C^2 list,
       broadcast) generate candidates, via equi-joins on cell id.
    4. Exact cosine verify within admitted pairs.

    Exactness is unconditional: step 3's bound is a theorem, not a
    probability, so the output equals the brute-force pair set for any
    corpus, any threshold. Pruning power is data-dependent: clustered
    corpora (real text/image embeddings) drop most cell pairs; an
    isotropic corpus (this repo's synthetic one — measured mean radius
    ~80 deg) admits everything, and no exact method can prune structure
    that is not there. Even then the shape is right for 100 TB: candidate
    generation is a *shuffle* equi-join on cell ids — distributed,
    skew-bounded by cell size — where the brute-force form broadcasts one
    whole side into a nested loop.

    Hyperplane-LSH banding (cf. similarity.lsh_ann_topk) is NOT used here
    deliberately: at threshold 0.45 a true pair agrees with a random plane
    with prob ~0.65 vs 0.5 for background, and sizing bands for a ~1e-6
    miss bound needs O(100) tables while still admitting ~every background
    pair — all cost, no pruning, and a broken exactness contract. LSH is
    the approximate-top-k tool for the >= 0.8 regime, not an exact-pair
    tool at 0.45.
    """
    import math

    def dot(x: Column, y: Column) -> Column:
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda acc, v: acc + v
        )

    v = F.col(vec_col).cast("array<double>")
    base = df.select(
        F.col(id_col).alias("_id"), v.alias("_v"), F.sqrt(dot(v, v)).alias("_n")
    )
    cent_rows = base.orderBy(F.xxhash64("_id")).limit(n_centroids).collect()
    if not cent_rows:
        return df.sparkSession.createDataFrame(
            [], "vec_id_a long, vec_id_b long, cosine double"
        )
    cents = []
    for r in cent_rows:
        nrm = r["_n"] or 1.0
        cents.append([x / nrm for x in r["_v"]])

    def cos_to(j: int) -> Column:
        cu = F.array(*[F.lit(x) for x in cents[j]])
        return dot(F.col("_v"), cu) / F.col("_n")

    best = F.greatest(*[
        F.struct(cos_to(j).alias("cc"), F.lit(-j).alias("negcell"))
        for j in range(len(cents))
    ]) if len(cents) > 1 else F.struct(cos_to(0).alias("cc"), F.lit(0).alias("negcell"))
    clamped = F.least(F.lit(1.0), F.greatest(F.lit(-1.0), F.col("_best.cc")))
    assigned = (
        base.withColumn("_best", best)
        .select(
            "_id", "_v", "_n",
            (-F.col("_best.negcell")).alias("_cell"),
            F.acos(clamped).alias("_ang"),
        )
        .localCheckpoint(eager=False)  # reused by radii + both join sides
    )

    radii = {
        r["_cell"]: r["r"]
        for r in assigned.groupBy("_cell").agg(F.max("_ang").alias("r")).collect()
    }
    theta_t = math.acos(threshold)

    def cangle(i: int, j: int) -> float:
        d = sum(a * b for a, b in zip(cents[i], cents[j]))
        return math.acos(max(-1.0, min(1.0, d)))

    adm = [
        (i, j)
        for i in sorted(radii)
        for j in sorted(radii)
        if i <= j and cangle(i, j) <= theta_t + radii[i] + radii[j]
    ]
    adm_df = df.sparkSession.createDataFrame(adm, "cell_a int, cell_b int")

    a = assigned.select(
        F.col("_id").alias("_ida"), F.col("_v").alias("_va"),
        F.col("_n").alias("_na"), F.col("_cell").alias("cell_a"),
    )
    b = assigned.select(
        F.col("_id").alias("_idb"), F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"), F.col("_cell").alias("cell_b"),
    )
    c = dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    return (
        a.join(F.broadcast(adm_df), "cell_a")
        .join(b, "cell_b")
        .filter((F.col("cell_a") != F.col("cell_b")) | (F.col("_ida") < F.col("_idb")))
        .select(
            F.least("_ida", "_idb").alias("vec_id_a"),
            F.greatest("_ida", "_idb").alias("vec_id_b"),
            c.alias("_c"),
        )
        .filter(F.col("_c") >= threshold)
        .select("vec_id_a", "vec_id_b", F.round("_c", 6).alias("cosine"))
    )


def editdist1_pairs(df: DataFrame, id_col: str, name_col: str) -> DataFrame:
    """All record pairs whose (lowercased) names are exactly Levenshtein
    distance 1 apart — entity-resolution blocking via the SymSpell
    deletion neighborhood (Garbe's symmetric delete, the spell-dedup
    standard). Each name emits itself plus every single-character
    deletion as candidate keys; two strings at distance 1 ALWAYS share a
    key (substitution pairs share the variant deleting the differing
    position; insertion/deletion pairs share the shorter string itself),
    so candidate generation is an equi-join on the key — |name|+1 keys
    per record, never an all-pairs scan. Verification is an exact
    integer ``levenshtein() = 1`` on candidates only, no rounding
    anywhere. Key skew is bounded by the alphabet: a deletion key is
    shared by at most ~|alphabet| names (the possible re-insertions), so
    no bucket explodes regardless of corpus size."""
    nm = F.lower(F.col(name_col))
    base = df.select(F.col(id_col).alias("rid"), nm.alias("nm"))
    keys = base.withColumn(
        "_k",
        F.explode(
            F.array_distinct(
                F.concat(
                    F.array(F.col("nm")),
                    F.expr(
                        "transform(sequence(1, length(nm)),"
                        " i -> concat(substring(nm, 1, i - 1), substring(nm, i + 1)))"
                    ),
                )
            )
        ),
    )
    a, b = keys.alias("a"), keys.alias("b")
    # Verify BEFORE the pair-dedup: levenshtein runs join-local on the
    # candidates (no extra shuffle), so the distinct() then shuffles only
    # TRUE pairs (a pair can meet via several shared deletion keys),
    # never the candidate multiset. A position-tagged key variant that
    # prunes cross-position (distance-2) collisions ahead of levenshtein
    # was built and MEASURED SLOWER (66 s -> 88 s at 100k names): the
    # struct-building lambda is interpreted and runs on both sides of
    # the self-join, costing more than the pruned levenshtein calls
    # saved. See SCALE.md.
    return (
        a.join(b, (F.col("a._k") == F.col("b._k")) & (F.col("a.rid") < F.col("b.rid")))
        .filter(F.levenshtein(F.col("a.nm"), F.col("b.nm")) == 1)
        .select(
            F.col("a.rid").alias("rid_a"),
            F.col("b.rid").alias("rid_b"),
            F.col("a.nm").alias("name_a"),
            F.col("b.nm").alias("name_b"),
        )
        .distinct()
    )


def _df_ordered_docs(
    df: DataFrame, id_col: str, text_col: str, max_df_pct: int | None = None
) -> DataFrame:
    """Stages 1-2 shared by the prefix-filtered set-similarity joins
    (d12 Jaccard, d15 containment): distinct lowercase whitespace tokens
    per doc, each doc's tokens sorted by the global (doc-frequency ASC,
    token ASC) total order — a row-local array sort off one word-count
    shuffle, no global rank/window. Returns (did, toks, sz).

    ``max_df_pct`` applies d3c's corpus-wide document-frequency cut
    BEFORE the per-doc arrays are built: tokens present in more than
    that percentage of documents are dropped everywhere (integer-exact
    ``tdf * 100 <= pct * n_docs``, so an oracle replicates the kept set
    bit-for-bit), and docs whose every token is pruned vanish — the
    d3c contract at word-token grain. The DF table is already computed
    for the prefix ordering, so the cut adds only a broadcast one-row
    count join."""
    from kafka_streaming_polymarket_pipeline_spark.operators.text import tokens

    tok = df.select(
        F.col(id_col).alias("did"),
        F.explode(F.array_distinct(tokens(F.lower(F.col(text_col))))).alias("t"),
    )
    tok_df = tok.groupBy("t").agg(F.count("*").alias("tdf"))
    if max_df_pct is not None:
        n_docs = df.agg(F.count("*").alias("n_docs"))
        tok_df = tok_df.crossJoin(F.broadcast(n_docs)).filter(
            F.col("tdf") * 100 <= F.lit(max_df_pct) * F.col("n_docs")
        ).drop("n_docs")
    return (
        tok.join(tok_df, "t")
        .groupBy("did")
        .agg(F.sort_array(F.collect_list(F.struct("tdf", "t"))).alias("_o"))
        .select(
            "did",
            F.expr("transform(_o, x -> x.t)").alias("toks"),
            F.size("_o").alias("sz"),
        )
    )


def prefix_jaccard_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num: int = 7,
    den: int = 10,
    max_df_pct: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Stages 1-3 of :func:`prefix_jaccard_pairs` — returns
    ``(docs, candidates)`` where ``docs`` is (did, toks, sz) with tokens
    in global (df ASC, token ASC) order and ``candidates`` is the
    distinct (doc_id_a, doc_id_b) prefix-collision pairs.  Exposed
    separately so the pigeonhole guarantee (candidates ⊇ qualifying
    pairs) is directly property-testable. ``max_df_pct`` is the d12c
    corpus-wide DF cut (see :func:`_df_ordered_docs`).
    """
    docs = _df_ordered_docs(df, id_col, text_col, max_df_pct)
    pref = docs.select(
        "did",
        "sz",
        F.explode(
            F.expr(f"slice(toks, 1, sz - (({num} * sz + {den} - 1) div {den}) + 1)")
        ).alias("t"),
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.did") < F.col("b.did"))
            & (den * F.col("b.sz") >= num * F.col("a.sz"))
            & (den * F.col("a.sz") >= num * F.col("b.sz")),
        )
        .select(F.col("a.did").alias("doc_id_a"), F.col("b.did").alias("doc_id_b"))
        .distinct()
    )
    return docs, cand


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num: int = 7,
    den: int = 10,
    max_df_pct: int | None = None,
) -> DataFrame:
    """EXACT word-token-set Jaccard >= num/den pairs via prefix filtering
    (the AllPairs / PPJoin family: Bayardo et al. WWW'07, Xiao et al.
    WWW'08) — the scalable *exact* set-similarity join, completing the
    dedup ladder: d2 proves the answer quadratically, d3 approximates
    then verifies, d12 gets the exact answer with near-linear candidate
    generation.

    Algorithm (all equi-joins, no all-pairs stage anywhere):

    1. Distinct lowercase whitespace tokens per doc; doc-frequency per
       token is one groupBy (tokens are distinct within a doc).
    2. Each doc sorts its tokens by the global (df ASC, token ASC) total
       order — a row-local array sort, no global rank/window — and keeps
       the first ``s - ceil(t*s) + 1`` as its *prefix* (rarest first).
       Pigeonhole: a qualifying pair has intersection >= ceil(t*s) on
       each side, which cannot fit entirely outside either prefix, so
       prefix-token equi-join candidates are a superset of the answer.
       Ordering by ascending df makes prefixes the RAREST tokens, so the
       candidate join is hub-free by construction.
    3. Candidates: prefix self-equi-join on the token with id_a < id_b
       and the symmetric length filter den*|b| >= num*|a| (both ways) —
       J >= t forces t*|a| <= |b| <= |a|/t.
    4. Verify exactly: join candidate ids back to the full sorted token
       arrays, i = |array_intersect|, keep den*i >= num*(sa+sb-i).

    The threshold is a RATIONAL (num/den) and every filter is integer
    cross-multiplication — ceil(t*s) is (num*s + den - 1) div den — so
    Spark and the naive DuckDB oracle agree bit-for-bit with no float
    edge anywhere (the j7 band-edge lesson). Output jaccard is the one
    rounded display column.

    100 TB shape: token df is a word-count shuffle; per-doc sort is
    row-local; candidate generation shuffles only prefix tokens (rare by
    construction — the df sort means a token shared by k docs lands in
    at most k prefixes and hub tokens land in almost none); verification
    is an id equi-join. Output is inherently quadratic in duplicate-
    cluster size, as for any exact pair enumeration.

    ``max_df_pct`` (d12c): apply the d3c corpus-wide DF cut first and
    compute exact Jaccard over the PRUNED token sets — boilerplate-blind
    similarity, the production semantics for template-heavy corpora
    where AllPairs candidate mass is exactly the templated token mass.
    On the driver corpus the cut collapses candidate pairs to the
    answer set itself (every pair sharing ANY surviving token
    qualifies at 19/20).
    """
    from pyspark.storagelevel import StorageLevel

    docs, cand = prefix_jaccard_candidates(df, id_col, text_col, num, den, max_df_pct)
    # Persist the ordered-docs frame: FOUR consumers read it (both prefix
    # explode sides inside ``cand`` and both verify array sides below),
    # and exchange reuse does not fire across the differently-projected
    # subtrees — unpersisted, the tokenize+DF-join+collect pipeline
    # re-executes per consumer and the whole query measured 23.5 s at
    # sf0.1 vs 2.4 s with this one persist (r10; the d15/d16
    # _containment_join already carried the same persist for the same
    # reason).
    docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
    da = docs.select(
        F.col("did").alias("doc_id_a"), F.col("toks").alias("_ta"), F.col("sz").alias("_sa")
    )
    db = docs.select(
        F.col("did").alias("doc_id_b"), F.col("toks").alias("_tb"), F.col("sz").alias("_sb")
    )
    i = F.size(F.array_intersect("_ta", "_tb"))
    return (
        cand.join(da, "doc_id_a")
        .join(db, "doc_id_b")
        .withColumn("_i", i)
        .filter(den * F.col("_i") >= num * (F.col("_sa") + F.col("_sb") - F.col("_i")))
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round(F.col("_i") / (F.col("_sa") + F.col("_sb") - F.col("_i")), 6).alias(
                "jaccard"
            ),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num: int = 9,
    den: int = 10,
    min_size: int = 1,
) -> DataFrame:
    """EXACT directed token-set CONTAINMENT pairs: |T(A) ∩ T(B)| / |T(A)|
    >= num/den with a != b — "A is (nearly) a subset of B", the
    ASYMMETRIC near-dup relation Jaccard misses (a tweet quoted inside
    an article scores Jaccard ~0 but containment 1.0; quotes, excerpts
    and boilerplate supersets are what corpus-subsumption dedup removes).
    The prefix-filter generalization for overlap-constrained joins is
    Xiao et al. WWW'08 (PPJoin's framework covers arbitrary overlap
    bounds); this is its containment instantiation:

    1. Docs ordered exactly as d12 (:func:`_df_ordered_docs`): distinct
       tokens, global (df ASC, token ASC) order, row-local sort.
    2. Only the CONTAINED side gets a prefix: overlap must reach
       o = ceil(t*|A|), so A's first ``|A| - o + 1`` tokens (rarest
       first) must witness any qualifying B — pigeonhole on A alone:
       the suffix holds o-1 < o tokens, so all o shared tokens cannot
       avoid the prefix. B is indexed by its FULL token set (containment
       is asymmetric — B may be arbitrarily large, so no symmetric
       length/prefix cut exists on B; the only sound B-side prune is
       |B| >= o).
    3. Candidates: prefix(A) x full(B) token equi-join, a != b,
       den*|B| >= num*|A| (integer form of |B| >= ceil(t*|A|)).
    4. Verify exactly: array_intersect on the full sorted arrays, keep
       den*i >= num*|A|.

    Thresholds are rational; every filter is integer cross-multiplied
    (the d12 discipline) — the rounded ``containment`` is display-only.

    100 TB shape: the B-side full explode is the inverted index (the
    word-count / BM25 shuffle, linear in corpus tokens); the A-side
    explode is only ~(1-t)|A|+1 rare-first tokens per doc, so a token
    shared by k docs joins against at most the few prefixes it appears
    in — hub tokens sit deep in every doc's df-ordered array and almost
    never enter a prefix. Like every exact pair enumeration the OUTPUT
    is quadratic in subsumption-cluster size; ``min_size`` drops tiny
    contained sets (a 2-token doc is "contained" everywhere —
    signal-free rows that dominate the output on template corpora).
    """
    docs = _df_ordered_docs(df, id_col, text_col)
    return _containment_join(docs, docs, num, den, min_size, self_pairs=False)


def _containment_join(
    da_docs: DataFrame,
    db_docs: DataFrame,
    num: int,
    den: int,
    min_size: int,
    self_pairs: bool,
) -> DataFrame:
    """Prefix-filtered directed containment A-in-B over two (did, toks,
    sz) frames sharing one token total order (steps 2-4 of
    :func:`containment_pairs`, factored so the cross-corpus decontam
    form reuses the identical candidate/verify machinery).
    ``self_pairs=False`` adds the a != b guard for the self-join form;
    cross-corpus callers keep identical-id pairs (the same doc present
    in both corpora IS a contamination hit).

    Each ordered frame feeds two consumers (prefix/full explode AND the
    verify-side array lookup), and exchange reuse does not fire across
    the differently-projected join sides (the minhash funnel's measured
    lesson) — so both frames are persisted here; a self-join caller
    passing the same object persists once."""
    from pyspark.storagelevel import StorageLevel

    da_docs = da_docs.persist(StorageLevel.MEMORY_AND_DISK)
    db_docs = db_docs.persist(StorageLevel.MEMORY_AND_DISK)
    pref = da_docs.filter(F.col("sz") >= min_size).select(
        F.col("did").alias("_a"),
        F.col("sz").alias("_sa"),
        F.explode(
            F.expr(f"slice(toks, 1, sz - (({num} * sz + {den} - 1) div {den}) + 1)")
        ).alias("t"),
    )
    full = db_docs.select(
        F.col("did").alias("_b"), F.col("sz").alias("_sb"), F.explode("toks").alias("t")
    )
    cond = (pref["t"] == full["t"]) & (den * F.col("_sb") >= num * F.col("_sa"))
    if not self_pairs:
        cond = cond & (F.col("_a") != F.col("_b"))
    cand = pref.join(full, cond).select("_a", "_b", "_sa").distinct()
    da = da_docs.select(F.col("did").alias("_a"), F.col("toks").alias("_ta"))
    db = db_docs.select(F.col("did").alias("_b"), F.col("toks").alias("_tb"))
    i = F.size(F.array_intersect("_ta", "_tb"))
    return (
        cand.join(da, "_a")
        .join(db, "_b")
        .withColumn("_i", i)
        .filter(den * F.col("_i") >= num * F.col("_sa"))
        .select(
            F.col("_a").alias("doc_id_a"),
            F.col("_b").alias("doc_id_b"),
            F.round(F.col("_i") / F.col("_sa"), 6).alias("containment"),
        )
    )


def cross_containment_pairs(
    bench: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num: int = 9,
    den: int = 10,
    min_size: int = 1,
) -> DataFrame:
    """DECONTAMINATION-shaped directed containment: every benchmark doc
    A whose token set is >= num/den contained in some training-corpus
    doc B — the span-level complement of the 8-gram scan (t8/x10). An
    eval passage quoted inside a long training document scores Jaccard
    ~0 (the big doc's extra tokens swamp the union) but containment 1.0;
    n-gram decontam misses paraphrase-reordered quotes whose token SET
    survives. Same machinery as :func:`containment_pairs`
    (prefix-filter on the contained side only, Xiao WWW'08; integer
    cross-multiplied thresholds) with two inputs: the token
    doc-frequency total order is computed over the UNION of both
    corpora (one shared order keeps each benchmark prefix rare-first
    against the corpus-side index; any fixed order is CORRECT — the
    pigeonhole is on A alone — df order is the performance choice).
    Identical ids on both sides are reported, not skipped: the same doc
    present in both corpora is the strongest contamination hit.

    100 TB shape: B-side full explode is the inverted-index shuffle
    (linear in corpus tokens); the A side is tiny by construction
    (benchmarks are MBs, not TBs) and its prefixes are ~(1-t)|A|+1
    tokens, so this is effectively a broadcast-scale probe against a
    corpus-sized index. Output: (doc_id_a=bench, doc_id_b=corpus,
    containment)."""
    from kafka_streaming_polymarket_pipeline_spark.operators.text import tokens

    def tok_pairs(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("did"),
            F.explode(F.array_distinct(tokens(F.lower(F.col(text_col))))).alias("t"),
        )

    ta, tb = tok_pairs(bench), tok_pairs(corpus)
    tok_df = ta.unionByName(tb).groupBy("t").agg(F.count("*").alias("tdf"))

    def ordered(tok: DataFrame) -> DataFrame:
        return (
            tok.join(tok_df, "t")
            .groupBy("did")
            .agg(F.sort_array(F.collect_list(F.struct("tdf", "t"))).alias("_o"))
            .select(
                "did",
                F.expr("transform(_o, x -> x.t)").alias("toks"),
                F.size("_o").alias("sz"),
            )
        )

    return _containment_join(
        ordered(ta), ordered(tb), num, den, min_size, self_pairs=True
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 32,
) -> DataFrame:
    """PARAGRAPH-granularity exact dedup — the sub-document pass
    production pipelines run alongside whole-doc dedup (C4's
    three-sentence rule, RefinedWeb's line-level dedup): split each doc
    into non-overlapping ``size``-token paragraphs (t15's splitter with
    stride == size; this corpus has no newline/sentence boundaries, so
    the fixed window IS the paragraph), drop every paragraph occurrence
    except the globally FIRST (min (doc_id, idx) over identical text —
    d1's exact-hash rule at paragraph grain; intra-doc repeats dedup
    too), and reassemble survivors in reading order (t19's rebuild
    shape). One row per INPUT doc — untouched docs hash too, so silent
    over-removal anywhere flips the gate.

    Scale: one groupBy on paragraph text (the d1 shuffle, map-side
    combined), one join back, one per-doc rebuild groupBy. No windows
    over unbounded partitions, no doc x doc anything. Output:
    (doc_id, text_clean, n_paras, n_removed)."""
    from kafka_streaming_polymarket_pipeline_spark.operators.text import passage_chunks

    paras = passage_chunks(
        df, size=size, stride=size, id_col=id_col, text_col=text_col
    ).select("doc_id", "chunk_idx", F.col("chunk_text").alias("_pt"))
    canon = paras.groupBy("_pt").agg(
        F.min(F.struct(F.col("doc_id"), F.col("chunk_idx"))).alias("_k")
    )
    kept = paras.join(canon, "_pt").filter(
        (F.col("doc_id") == F.col("_k")["doc_id"])
        & (F.col("chunk_idx") == F.col("_k")["chunk_idx"])
    )
    return _rebuild_kept_windows(df, id_col, paras, kept)


def boilerplate_scrub(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 32,
    max_doc_freq: int = 1,
) -> DataFrame:
    """Corpus-frequency boilerplate removal — the CCNet/RefinedWeb pass
    that deletes EVERY occurrence of a paragraph seen in more than
    ``max_doc_freq`` distinct documents (headers, footers, license
    blocks, navigation chrome). The keep rule is the semantic complement
    of paragraph_dedup/d17: d17 keeps one canonical copy of a repeated
    paragraph; this keeps none — repeated content is treated as
    template noise, not as content that deserves a canonical survivor.
    Intra-doc repeats with doc-frequency 1 survive (they are stylistic,
    not cross-doc boilerplate).

    Scale: one groupBy(paragraph) count-distinct (map-side partials on
    (_pt, doc_id) then _pt), then a LEFT ANTI join of the window table
    against the frequent set — by Zipf the frequent side is a tiny
    fraction of distinct windows (317 of 10,387 at sf0.1), so at corpus
    scale it broadcasts and the scrub is map-side; the reassembly is
    d17's per-doc rebuild. No windows over unbounded partitions, no
    doc x doc anything. Output: (doc_id, text_clean, n_paras,
    n_removed) — one row per INPUT doc so over-removal flips the gate."""
    from kafka_streaming_polymarket_pipeline_spark.operators.text import passage_chunks

    paras = passage_chunks(
        df, size=size, stride=size, id_col=id_col, text_col=text_col
    ).select("doc_id", "chunk_idx", F.col("chunk_text").alias("_pt"))
    frequent = (
        paras.groupBy("_pt")
        .agg(F.countDistinct("doc_id").alias("_df"))
        .filter(F.col("_df") > max_doc_freq)
        .select("_pt")
    )
    kept = paras.join(frequent, "_pt", "left_anti")
    return _rebuild_kept_windows(df, id_col, paras, kept)


def _rebuild_kept_windows(
    df: DataFrame, id_col: str, paras: DataFrame, kept: DataFrame
) -> DataFrame:
    """Reading-order reassembly + removal accounting shared by the exact
    (d17) and fuzzy (d18) paragraph-dedup forms: ``paras`` is every
    window (doc_id, chunk_idx, _pt), ``kept`` its surviving subset.
    One row per INPUT doc so untouched docs hash too."""
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.expr(
                "transform(sort_array(collect_list(struct(chunk_idx, _pt))),"
                " x -> x._pt)"
            ),
            " ",
        ).alias("text_clean"),
        F.count("*").alias("_nk"),
    )
    tot = paras.groupBy("doc_id").agg(F.count("*").alias("_np"))
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(tot, "doc_id", "left")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.coalesce("_np", F.lit(0)).cast("long").alias("n_paras"),
            (F.coalesce("_np", F.lit(0)) - F.coalesce("_nk", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


# windows per doc headroom for the fuzzy-grain window id encoding: a doc
# would need > 2^20 windows (32M+ tokens) before (doc_id, chunk_idx)
# stopped packing injectively — far beyond any document.
PARA_WID_MULT = 1 << 20


def paragraph_neardup_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 32,
    threshold: float = 0.5,
    n: int = 5,
    wid_mult: int = PARA_WID_MULT,
) -> DataFrame:
    """FUZZY paragraph-grain dedup — d17's sub-document pass with d3's
    near-dup relation instead of exact equality (the Dolma/RefinedWeb
    combination: fuzzy matching at sub-document granularity, so lightly
    edited boilerplate paragraphs — dates bumped, names swapped — dedup
    where the exact pass misses): split into non-overlapping
    ``size``-token windows, find EXACT-verified Jaccard >= threshold
    window pairs via the d3 MinHash funnel (windows become docs under a
    packed id wid = doc_id * 2^20 + idx, injective and reading-ordered),
    close the pair relation into clusters with large-star/small-star CC,
    keep each cluster's minimum-wid window (= globally first occurrence
    in reading order, d17's rule lifted to the fuzzy closure; singletons
    keep themselves), and reassemble survivors per doc.

    Windows shorter than the shingle width n have no shingles, never
    pair, and always survive — the relation is near-duplicate AT SHINGLE
    GRAIN, exactly d3's contract.

    Scale: the funnel is d3's (banded candidate generation, never
    window x window); CC is O(log^2) star rounds over the pair graph;
    reassembly is d17's per-doc groupBy. Output d17's schema:
    (doc_id, text_clean, n_paras, n_removed).

    Injectivity guard (ADVICE r09): the packed wid is injective and
    reading-ordered ONLY for 0 <= doc_id < 2^63 / wid_mult and
    0 <= chunk_idx < wid_mult; a negative doc_id or a doc with >=
    wid_mult windows (33M+ tokens at the default 2^20 x 32-token
    windows) would silently collide into a neighbouring doc's window
    space — and the oracle shares the formula, so the hash gate could
    not catch it. Out-of-range rows now raise from inside the plan
    (executor-side, no driver scan) instead of corrupting the
    min-wid first-occurrence rule."""
    from kafka_streaming_polymarket_pipeline_spark.operators.text import passage_chunks

    doc_cap = (1 << 63) // wid_mult
    in_range = (
        (F.col("doc_id") >= 0)
        & (F.col("doc_id") < F.lit(doc_cap))
        & (F.col("chunk_idx") < F.lit(wid_mult))
    )
    paras = passage_chunks(
        df, size=size, stride=size, id_col=id_col, text_col=text_col
    ).select(
        "doc_id",
        "chunk_idx",
        F.col("chunk_text").alias("_pt"),
        F.when(
            in_range, F.col("doc_id") * F.lit(wid_mult) + F.col("chunk_idx")
        )
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "paragraph_neardup_dedup: wid packing out of range "
                        f"(need 0 <= doc_id < {doc_cap} and chunk_idx < "
                        f"{wid_mult}); got doc_id="
                    ),
                    F.col("doc_id").cast("string"),
                    F.lit(" chunk_idx="),
                    F.col("chunk_idx").cast("string"),
                )
            )
        )
        .cast("long")
        .alias("wid"),
    )
    wdocs = paras.select(F.col("wid").alias("doc_id"), F.col("_pt").alias("text"))
    # r11 negative result (VERDICT r10 task 4 proposed routing this
    # funnel through OPH signatures): MEASURED SLOWER at window grain —
    # d18 25.0 s -> 29.2 s at sf0.1 (min-of-2, same box/protocol) with
    # the then two-level OPH payload aggregation, vs d3d's 22.7 -> 17.5 s
    # gain on doc grain: at ~150 chars/window the extra (wid, bin)-grain
    # shuffle outweighed replacing 128 multiply-mods/shingle with one
    # hash. Both payloads are now the same shuffle-free fold
    # (_fold_payload), so that measurement no longer applies; d18 stays
    # on the permutation minima until it is re-measured.
    pairs = minhash_lsh_dedup(wdocs, threshold=threshold, n=n)
    labels = neardup_clusters_star(wdocs, pairs).select(
        F.col("doc_id").alias("wid"), "cluster_id"
    )
    kept = (
        paras.join(labels, "wid")
        .filter(F.col("wid") == F.col("cluster_id"))
        .select("doc_id", "chunk_idx", "_pt")
    )
    return _rebuild_kept_windows(df, id_col, paras, kept)
