"""Bloom-filter incremental dedup (public technique: Bloom 1970; the
distributed-bitset-as-table formulation is the standard MapReduce/Spark
semi-join filtering pattern).

The production dedup shape at crawl scale is INCREMENTAL: every new batch is
cleaned against the already-accepted corpus (see ``dedup_against``). A plain
anti-join shuffles a fingerprint per REFERENCE row on every batch — at 100 TB
the reference side dominates and repeats per batch. A Bloom filter bounds
that cost by the filter size ``m``, not the corpus size:

- ``bloom_bits`` reduces the reference to its set-bit positions — a DISTINCT
  table of at most ``m = 2^bits_log2`` integers, built with one slim
  ``(bit)`` shuffle. Build it ONCE, ``save()`` it, reuse it for every batch.
- Membership is a single equi-join on the bit position: each batch row
  explodes to ``num_hashes`` slim ``(id, bit)`` rows; a row is
  bloom-positive iff all ``num_hashes`` bits are set. Spark 4.1 doesn't
  expose ``bloom_filter_agg``/``might_contain`` as public SQL functions, and
  a driver-side ``df.stat.bloomFilter`` object can't be applied JVM-side
  from Python — the bitset-as-table form keeps everything in the JVM and
  lets AQE broadcast the (bounded, usually tiny) bit table.
- Bloom positives can be FALSE positives, so survivors pay an exact
  fingerprint confirm against the reference — but only the positives do.
  On a clean batch almost nothing reaches the reference join; the output is
  bit-for-bit identical to the exact anti-join (no false negatives), which
  is exactly what the DuckDB oracle checks.

No counterpart in the reference repo; cites the public algorithm only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..errors import ParameterException
from ..operators._util import resolve_col
from ..registry import spark_transform
from ._cache import release_now, scoped_persist
from ._filter import finish, reread_input
from ._hash import norm_fp
from ._index import (
    PersistedIndex,
    check_fresh,
    loaded,
    materialize,
    read_frames,
    read_params,
    save_artifact,
)


def _bit_positions(fp: Column, num_hashes: int, m: int) -> Column:
    """Array of ``num_hashes`` bit positions for one fingerprint:
    ``xxhash64(fp, i) pmod m`` — 64-bit JVM hashing, no Python."""
    return F.array(
        *[F.pmod(F.xxhash64(fp, F.lit(i)), F.lit(m)) for i in range(num_hashes)]
    )


def bloom_bits(
    df: DataFrame,
    text: str,
    bits_log2: int = 22,
    num_hashes: int = 3,
) -> DataFrame:
    """The distributed Bloom bitset for a corpus: one row per SET bit
    (column ``BIT``, bigint in ``[0, 2^bits_log2)``).

    Bounded by ``m`` no matter how large the corpus — build once over the
    accepted training set, persist, reuse across crawl batches. The build is
    one explode + DISTINCT on a single-int column (partial aggregation
    collapses duplicates map-side, so the shuffle carries at most ``m``
    values per partition)."""
    if bits_log2 < 8 or bits_log2 > 40:
        raise ParameterException("bits_log2 must be in [8, 40]")
    if num_hashes < 1:
        raise ParameterException("num_hashes must be >= 1")
    t = resolve_col(df, text)
    m = 1 << bits_log2
    return (
        df.select(
            F.explode(_bit_positions(norm_fp(F.col(t)), num_hashes, m)).alias("BIT")
        )
        .dropDuplicates(["BIT"])
    )


@spark_transform("dedup_against_bloom", category="dedup", streaming_ok=False)
def dedup_against_bloom(
    df: DataFrame,
    text: str,
    id_col: str,
    reference: DataFrame | None = None,
    ref_text: str | None = None,
    bits_log2: int = 22,
    num_hashes: int = 3,
    bits: DataFrame | None = None,
    index: "BloomIndex | None" = None,
) -> DataFrame:
    """Drop batch rows whose normalized content already exists in
    ``reference``, using a Bloom prefilter so only bloom-POSITIVE rows pay
    the exact reference join.

    Output is exactly ``dedup_against(method='exact', mode='filter')`` —
    the Bloom stage admits false positives (caught by the exact confirm)
    and never false negatives.

    Pass ``bits`` (a ``bloom_bits`` result, e.g. loaded from a saved table)
    to skip the build and make the per-batch cost independent of reference
    size: one broadcast-able bit-table join + an exact join over the few
    positives. Plan shape at 100 TB: the batch explodes to ``num_hashes``
    slim ``(id, bit)`` rows; the bit table is at most ``2^bits_log2`` ints
    (32 MB of longs at the default 4M bits) so AQE broadcasts it; the
    reference is scanned only by the positives' semi-join."""
    t, i = resolve_col(df, text), resolve_col(df, id_col)
    if reference is None and index is None:
        raise ParameterException(
            "dedup_against_bloom needs a reference frame or a prebuilt "
            "BloomIndex (a bare bits table cannot run the exact confirm)"
        )
    if reference is not None:
        rt = resolve_col(reference, ref_text or text)
    if index is not None:
        if (index.bits_log2, index.num_hashes) != (bits_log2, num_hashes):
            raise ParameterException(
                "BloomIndex was built with different bits_log2/num_hashes "
                "than this call"
            )
        # omit reference on the index path to skip the count
        check_fresh(index, reference)
        bits, ref_fps = index.bits, index.fps
    else:
        ref_fps = None
    m = 1 << bits_log2
    if bits is None:
        bits = bloom_bits(reference, rt, bits_log2, num_hashes)
    bits = bits.select(F.col("BIT").alias("__bit"))
    # df is read three times: the probes, the confirm and the drop
    df, inp = reread_input(df)
    probes = df.select(
        F.col(i).alias("__id"),
        F.posexplode(_bit_positions(norm_fp(F.col(t)), num_hashes, m)).alias(
            "__hi", "__bit"
        ),
    )
    # bloom-positive: every one of the num_hashes probe bits is set.
    # rows are distinct in __hi per id, so surviving-count == num_hashes.
    positive = (
        probes.join(bits, on="__bit", how="left_semi")
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") == num_hashes)
        .select("__id")
    )
    # exact confirm on the positives only — false positives survive here.
    # with a BloomIndex the distinct-fingerprint table comes from cache:
    # WITHOUT it, this join re-fingerprints the whole reference per batch —
    # batch-invariant work that dominates at large reference:batch ratios
    # (the reason BloomIndex exists)
    if ref_fps is None:
        ref_fps = reference.select(norm_fp(F.col(rt)).alias("__fp")).dropDuplicates()
    confirmed = (
        df.join(positive.withColumnRenamed("__id", i), on=i, how="left_semi")
        .select(F.col(i).alias("__did"), norm_fp(F.col(t)).alias("__fp"))
        .join(ref_fps, on="__fp", how="left_semi")
    )
    return finish(df, id_col, "filter", confirmed, *inp, key="__did")


class BloomIndex(PersistedIndex):
    """Reusable incremental-dedup index: the Bloom bit table AND the
    distinct reference fingerprints, both persisted. The per-batch cost
    split of ``dedup_against_bloom`` is: (a) bit-table membership — bounded
    by 2^bits_log2; (b) exact confirm — which without reuse re-fingerprints
    and re-distincts the ENTIRE reference every batch (batch-invariant
    work, measured dominant at 100:1 reference:batch ratios). Build both
    structures once; per-batch work is then the broadcast bit join plus a
    probe of the cached fingerprint table by bloom positives only.
    Release, staleness and artifacts: see :mod:`._index`; ``carry`` holds
    the frames inherited from the index ``update_bloom_index`` folded
    into, so releasing the update frees the whole increment chain."""

    _PARAMS = "bits_log2 int, num_hashes int, n_docs long"

    def __init__(self, bits: DataFrame, fps: DataFrame, bits_log2: int,
                 num_hashes: int, n_docs: int | None = None, carry=()):
        super().__init__(n_docs, owned=(bits, fps, *carry))
        self.bits = bits
        self.fps = fps
        self.bits_log2 = bits_log2
        self.num_hashes = num_hashes


def bloom_index(
    reference: DataFrame,
    text: str,
    bits_log2: int = 22,
    num_hashes: int = 3,
) -> BloomIndex:
    """Build a :class:`BloomIndex` over the accepted corpus (one reference
    scan computes fingerprints; bits and distinct fps both materialize off
    it). Pass to ``dedup_against_bloom(..., index=...)`` for per-batch cost
    independent of reference preprocessing."""
    rt = resolve_col(reference, text)
    m = 1 << bits_log2
    # one cached fingerprint scan feeds BOTH the row count and the distinct
    # fps, so n_docs is consistent-by-construction with the indexed rows
    rows, n_docs = materialize(
        reference.select(norm_fp(F.col(rt)).alias("__fp"))
    )
    fps = scoped_persist(rows.dropDuplicates())
    # materializes fps too (bits derives from it)
    bits, _ = materialize(
        fps.select(
            F.explode(_bit_positions(F.col("__fp"), num_hashes, m)).alias("BIT")
        )
        .dropDuplicates(["BIT"])
    )
    release_now(rows)
    return BloomIndex(bits, fps, bits_log2, num_hashes, n_docs=n_docs)


def update_bloom_index(
    index: BloomIndex,
    new_docs: DataFrame,
    text: str,
) -> BloomIndex:
    """Fold newly-accepted documents into an existing :class:`BloomIndex`
    (the exact-membership counterpart of ``update_minhash_index``): only
    the new docs are fingerprinted; bits and fps union with the existing
    frames. Results are EXACTLY those of a full rebuild — Bloom bits and
    distinct fingerprints are both set-unions. Returns a NEW index; the
    old one remains usable."""
    rt = resolve_col(new_docs, text)
    m = 1 << index.bits_log2
    rows, n_new = materialize(
        new_docs.select(norm_fp(F.col(rt)).alias("__fp"))
    )
    new_fps = rows.dropDuplicates()
    fps, _ = materialize(index.fps.unionByName(new_fps).dropDuplicates())
    bits, _ = materialize(
        index.bits.unionByName(
            new_fps.select(
                F.explode(
                    _bit_positions(F.col("__fp"), index.num_hashes, m)
                ).alias("BIT")
            )
        )
        .dropDuplicates(["BIT"])
    )
    release_now(rows)
    n_docs = None if index.n_docs is None else index.n_docs + n_new
    return BloomIndex(
        bits, fps, index.bits_log2, index.num_hashes, n_docs=n_docs,
        carry=index._owned,
    )


def save_bloom_index(index: BloomIndex, path: str) -> str:
    """Persist a :class:`BloomIndex` as parquet (``{path}/bits``,
    ``{path}/fps``) plus a one-row params table — the cross-JOB form of the
    index: build on the corpus-refresh cadence, load per crawl batch."""
    return save_artifact(index, path, {"bits": index.bits, "fps": index.fps})


def load_bloom_index(spark, path: str, persist: bool = True) -> BloomIndex:
    """Load a :func:`save_bloom_index` artifact. ``persist`` pins both
    frames for multi-batch reuse (call ``release()`` when done)."""
    prm = read_params(spark, path, BloomIndex)
    bits, fps = read_frames(spark, path, ("bits", "fps"), persist)
    return loaded(BloomIndex(bits, fps, int(prm["bits_log2"]),
                             int(prm["num_hashes"]), n_docs=prm["n_docs"]), path)
