"""The persisted-index lifecycle shared by the engine's reusable indexes:
``IVFIndex``, ``BinaryIndex``, ``IVFPQIndex``, ``MinHashIndex``,
``SubstringIndex``, ``BloomIndex``, ``CMSIndex`` and ``HLLIndex``.

Contract (stated here once; the index classes do not restate it):

- **Build once, reuse.** ``*_index`` builds the index's frames,
  ``scoped_persist``s them and materializes them eagerly, so every later
  search, join or dedup call reuses the cached frames and never re-reads a
  possibly rewritten source. ``update_*`` folds a batch into a NEW index
  (same eager materialization); the old index stays usable.
- **Release.** An index owns the frames it persisted, and ``release()``
  frees exactly those (``release_now``; scoped caches are reference
  counted, so a frame shared with another live index survives until its
  last owner lets go). IVF, IVF-PQ, Binary, Substring, CMS and HLL updates
  own only their new frames: releasing the update leaves the base index
  cached. Bloom and MinHash updates also own their base's frames:
  releasing the update frees the whole increment chain.
- **Staleness.** ``n_docs`` is the row count the index was built or
  updated over (None on artifacts that predate it; CMS and HLL, which key
  by group, carry none). :func:`check_fresh` compares it with a passed
  reference frame's row count — one ``count()`` job — wherever an
  operator takes both an index and the frame it claims to cover. It is a
  ROW COUNT only: a same-size corpus with different content passes
  (a content hash would cost a full scan per check). Paths with no
  authoritative frame to compare against (prebuilt search) do not check;
  callers compare ``index.n_docs`` themselves.
- **Artifacts.** ``save_*`` writes each named frame as parquet under
  ``{path}/<name>`` plus a one-row ``{path}/params`` table, with ``-1``
  standing for None; ``load_*`` reads it back, filling params columns that
  older artifacts lack from the class's ``_DEFAULTS``. ``persist=True``
  pins the loaded frames for multi-batch reuse (``release()`` when done).
  A loaded index's frames read the artifact's own files, so saving it back
  over the path it was loaded from raises instead of deleting the files
  its frames read. An update materializes the frames its save writes, so
  the refresh loop (load, ``update_*``, save to the same path) is allowed;
  Spark then re-caches the saved update's frames from the new files (plus
  the batch again), so reload the artifact rather than reuse that object.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from ..errors import ParameterException
from ._cache import release_now, scoped_persist


class PersistedIndex:
    """Base of the reusable indexes (see the module docstring).

    Subclasses declare their params table: ``_PARAMS`` (the column DDL, in
    on-disk order), ``_DEFAULTS`` (values for columns older artifacts lack;
    a column whose default is None stores None as -1) and ``_UNIT`` (what
    ``n_docs`` counts, for the staleness message)."""

    _PARAMS = "n_docs long"
    _DEFAULTS: dict = {"n_docs": None}
    _UNIT = "docs"

    def __init__(self, n_docs: int | None = None, owned=()):
        self.n_docs = n_docs
        self._owned = tuple(owned)
        self._artifact = None  # the path load_* read this index from

    def release(self) -> None:
        release_now(*self._owned)


def materialize(df: DataFrame) -> tuple:
    """``scoped_persist`` ``df`` and fill its cache now with one
    ``count()`` job, so the index never re-reads a possibly rewritten
    source later. Returns ``(frame, row count)``; the count, taken off the
    cached rows, doubles as ``n_docs``."""
    df = scoped_persist(df)
    return df, df.count()


def _kind(cls) -> str:
    """``IVFPQIndex`` -> ``ivfpq``: the stem of the class's
    ``<kind>_index`` / ``update_<kind>_index`` / ``load_<kind>_index``."""
    return cls.__name__[:-len("Index")].lower()


def check_type(index, cls, op: str) -> None:
    """Raise unless ``index`` is a ``cls``; ``op`` names the caller."""
    if not isinstance(index, cls):
        name, kind = cls.__name__, _kind(cls)
        article = "an" if name[0] in "AEIOU" else "a"
        raise ParameterException(
            f"{op} takes {article} {name} (build with {kind}_index / "
            f"load_{kind}_index); got {type(index).__name__}"
        )


def check_fresh(index: PersistedIndex, frame: DataFrame | None,
                side: str = "reference") -> None:
    """Raise unless ``frame`` has the ``n_docs`` rows ``index`` was built
    over. Runs one ``count()`` job, and only when both are known."""
    if frame is None or index.n_docs is None:
        return
    have = frame.count()
    if have != index.n_docs:
        unit = index._UNIT
        raise ParameterException(
            f"{type(index).__name__} was built over {index.n_docs} {side} "
            f"{unit} but the passed {side} frame has {have} — fold the new "
            f"{unit} in with update_{_kind(type(index))}_index or rebuild"
        )


def _local(path: str) -> str:
    if path.startswith("file:"):
        path = "/" + path[len("file:"):].lstrip("/")
    return os.path.abspath(path) if "://" not in path else path.rstrip("/")


def check_target(index: PersistedIndex, path: str) -> None:
    """Refuse to save a loaded index over the artifact its frames read:
    the overwrite would delete those files before the write reads them."""
    if index._artifact is not None and _local(index._artifact) == _local(path):
        raise ParameterException(
            f"{type(index).__name__} was loaded from {path} and its frames "
            "still read those files; save it to another path"
        )


def _coerce(value, ddl_type: str):
    if value is None:
        return -1
    if ddl_type in ("int", "long", "bigint"):
        return int(value)
    return bool(value) if ddl_type == "boolean" else value


def save_artifact(index: PersistedIndex, path: str, frames: dict,
                  **params) -> str:
    """Write ``frames`` ({name: frame}) under ``{path}/<name>`` and the
    one-row ``{path}/params`` table. Each ``_PARAMS`` column takes its
    value from ``params`` if given there, else from the index attribute of
    the same name."""
    check_target(index, path)
    for name, frame in frames.items():
        frame.write.mode("overwrite").parquet(f"{path}/{name}")
    row = tuple(
        _coerce(params[c] if c in params else getattr(index, c), t)
        for c, t in (col.split()[:2] for col in index._PARAMS.split(","))
    )
    spark = next(iter(frames.values())).sparkSession
    spark.createDataFrame([row], index._PARAMS).write.mode(
        "overwrite"
    ).parquet(f"{path}/params")
    return path


def read_params(spark, path: str, cls) -> dict:
    """The artifact's params row as a dict: absent columns take
    ``cls._DEFAULTS``; -1 reads back as None in columns whose default is
    None."""
    row = spark.read.parquet(f"{path}/params").first().asDict()
    out = {**cls._DEFAULTS, **row}
    for c, d in cls._DEFAULTS.items():
        if d is None and out[c] is not None and int(out[c]) < 0:
            out[c] = None
    return out


def read_frames(spark, path: str, names, persist: bool) -> list:
    """Read the artifact's named frames, ``scoped_persist``ed if
    ``persist``."""
    frames = [spark.read.parquet(f"{path}/{n}") for n in names]
    return [scoped_persist(f) for f in frames] if persist else frames


def loaded(index: PersistedIndex, path: str) -> PersistedIndex:
    """Record the artifact ``path`` ``index`` was loaded from."""
    index._artifact = path
    return index


def vector_table(spark, rows, keys: str) -> DataFrame:
    """``(key..., vector)`` rows as a frame of the ``keys`` DDL columns plus
    ``v array<double>``: the centroid (``c bigint``) and codebook
    (``s int, c int``) tables of IVF and IVF-PQ artifacts."""
    return spark.createDataFrame(
        [(*map(int, key), [float(x) for x in v]) for *key, v in rows],
        f"{keys}, v array<double>",
    )


def read_vectors(spark, path: str, *keys) -> list:
    """A :func:`vector_table` artifact as ``(key..., vector)`` tuples
    ordered by ``keys`` — one bounded driver collect."""
    return [
        (*(int(r[k]) for k in keys), list(r["v"]))
        for r in spark.read.parquet(path).orderBy(*keys).collect()
    ]
