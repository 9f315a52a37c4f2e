"""The persisted-index lifecycle, shared by ``MinHashIndex``
(dedup.py), ``IVFIndex`` (similarity.py) and, for its writer guard and
versioned meta, ``ZTable`` (layout.py). Each family keeps its own
data-dir names, its build/probe/search arithmetic and its rewrite;
the contracts below are stated here once.

Writers. Every verb that changes a persisted index (``append``,
``merge``, ``delete``, ``compact``, ``vacuum``, ``refit``, ``admit``)
enters :func:`writer` first. It refuses an index that was never
written (an in-memory index would silently diverge from disk) and
holds the index's single-writer lease (qcache_spark/lease.py) for the
whole verb: an append racing a compact lands files the compact's
pre-planned rewrite never saw, and the post-flip cleanup deletes them;
two admitters both probe before either appends and double-admit a
near-duplicate pair. A verb raises ``LeaseHeld`` while another writer
is live. ``lease=False`` is for a caller that already holds the lease
across a larger transaction; ``admit`` passes it to its own
``append``.

Versioned meta. Each family persists a ``<path>_meta`` sidecar
carrying a ``format_version`` and its build parameters.
:func:`load_meta` refuses a sidecar whose version differs from the
running code's (including one with no tag) or whose parameters
disagree with the caller's ``expect``, raising the family's
``*Mismatch``: the caller should rebuild.

Generations. MinHash and IVF data live in generation-suffixed dirs: a
family's :class:`Layout` names its generation-0 dirs, and generation
N > 0 lives in ``<stem>_g<N>``. ``compact``/``refit`` write generation
N+1 NEXT to the live one and then flip the meta pointer
(:meth:`PersistedIndex._flip`), so they never overwrite files a
concurrent reader may be scanning; a failed rewrite leaves the pointer
on N. Retention: after a flip the newest ``retain`` superseded
generations (default 1) stay on disk, so a scan planned against them
completes; older ones are deleted. ``vacuum()`` deletes them all; run
it once no reader planned before the last flip can still be in flight.

Tombstones. ``delete(ids)`` appends the ids, cast to the stored id
dtype, to a tombstone dir outside the generation dirs: O(|ids|) I/O
whatever the corpus size. Readers mask them with a broadcast
anti-join before any bucket cap or ranking, so results equal an index
rebuilt without them. The next flip drops the tombstoned rows from
the rewrite and removes the tombstones, which are O(KB) and read once
at job launch into a broadcast: only a reader planned but not yet
launched across the flip would notice (re-plan it). Tombstones mask
by ID: an id re-appended before that flip stays masked, and the flip
drops all of its rows, so re-admit deleted content under a fresh id
or compact first. Callers own id uniqueness, as for ``append``.

Every filesystem touch goes through qcache_spark/hadoopfs.py, so the
lifecycle works unchanged on HDFS and object stores.
"""
from __future__ import annotations

from contextlib import nullcontext
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from qcache_spark import hadoopfs as hfs
from qcache_spark.lease import LEASE_FILE, IndexLease

# streaming/admission.py's replay watermark, kept inside the index path
PROGRESS_FILE = "_admission_progress.json"


def require_persisted(index, verb: str) -> None:
    if index.path is None:
        raise ValueError(
            f"{verb} requires a persisted index — call write() first"
        )


def writer(index, verb: str, lease: bool):
    """Context for one writer verb: refuses a never-written index and
    holds its single-writer lease unless ``lease`` is False."""
    require_persisted(index, verb)
    return IndexLease(index._spark, index.path) if lease else nullcontext()


def load_meta(
    spark, path: str, version: int, mismatch: type, what: str,
    expect: dict | None = None,
) -> dict:
    """The meta sidecar at ``path``, checked against the running
    code's format ``version`` and the caller's ``expect`` keys."""
    meta = hfs.read_meta_sidecar(spark, path)
    found = meta.get("format_version")
    if found != version:
        raise mismatch(
            f"{what} at {path!r} has format_version={found!r}, "
            f"code expects {version}; rebuild the index"
        )
    for key, want in (expect or {}).items():
        if meta.get(key) != want:
            raise mismatch(
                f"{what} at {path!r} was built with "
                f"{key}={meta.get(key)!r}, caller expects {want!r}; "
                "rebuild the index"
            )
    return meta


class Layout(NamedTuple):
    """Where one index family keeps its data and control files."""

    stems: tuple  # generation-0 data dirs; generation N is <stem>_g<N>
    pointer: str  # meta key naming the live generation
    tombstones: str  # tombstone dir, as a suffix of the index path
    # generation 0 lives at the path ROOT as entries with this prefix
    root: str | None = None


def generations(spark, path: str, layout: Layout) -> dict:
    """{stem: generations whose dir for that stem exists on disk}."""
    names = hfs.list_names(spark, path)
    found = {}
    for s in layout.stems:
        pre = s + "_g"
        gens = {
            int(n[len(pre):])
            for n in names
            if n.startswith(pre) and n[len(pre):].isdigit()
        }
        if (
            any(n.startswith(layout.root) for n in names)
            if layout.root
            else s in names
        ):
            gens.add(0)
        found[s] = gens
    return found


class PersistedIndex:
    """The generation, tombstone and retention half of the lifecycle,
    for MinHashIndex and IVFIndex. A subclass sets ``LAYOUT``, keeps
    ``path``, ``generation``, ``tombstones`` and ``_spark``, names its
    stored id column ``_tomb_col`` and the frame holding it
    ``_stored()``, and provides ``_reload(spark)`` and
    ``_write_meta(spark, path)``."""

    LAYOUT: Layout

    def _dirs(self, g: int | None = None) -> list:
        """Generation ``g``'s data dirs (default: the live one)."""
        g = self.generation if g is None else g
        if g == 0 and self.LAYOUT.root:
            return [self.path]
        root = self.path.rstrip("/")
        return [
            root + "/" + (s if g == 0 else f"{s}_g{g}") for s in self.LAYOUT.stems
        ]

    def _files(self) -> int | None:
        return hfs.count_files(self._spark, self._dirs()[0])

    def _tombstones_dir(self) -> str:
        return self.path + self.LAYOUT.tombstones

    def _read_tombstones(self, spark) -> DataFrame | None:
        d = self._tombstones_dir()
        return spark.read.parquet(d) if hfs.exists(spark, d) else None

    def _live(self, frame: DataFrame) -> DataFrame:
        """``frame`` minus the tombstoned ids."""
        if self.tombstones is None:
            return frame
        col = self._tomb_col
        return frame.join(
            F.broadcast(self.tombstones.select(col)), col, "left_anti"
        )

    def _clear_previous(self, spark, path: str) -> None:
        """write() onto a path another index used: delete what that
        occupant left outside the generation-0 data the write
        overwrites (tombstones, later generations, the admission
        watermark and lease), which would otherwise mask rows, skip a
        new stream's batches or block admission. Done FIRST, so a
        crash mid-write never leaves fresh data under stale control
        state."""
        hfs.delete(spark, path + self.LAYOUT.tombstones)
        for name in hfs.list_names(spark, path):
            if name in (PROGRESS_FILE, LEASE_FILE) or any(
                name.startswith(s + "_g") for s in self.LAYOUT.stems
            ):
                hfs.delete(spark, path.rstrip("/") + "/" + name)

    def delete(self, ids, lease: bool = True) -> None:
        """Tombstone ``ids``: a DataFrame carrying the index's id
        column, or an iterable of ids (see the module docstring)."""
        with writer(self, "delete", lease):
            # the STORED id dtype: a fixed long schema made string-id
            # deletions raise or anti-join nothing (ADVICE r9 #3)
            col = self._tomb_col
            id_type = self._stored().schema[col].dataType
            if isinstance(ids, DataFrame):
                tdf = ids.select(F.col(self.id_col).cast(id_type).alias(col))
            else:
                tdf = self._spark.createDataFrame(
                    [(i,) for i in ids],
                    T.StructType([T.StructField(col, id_type)]),
                )
            tdf.write.mode("append").parquet(self._tombstones_dir())
            self._reload(self._spark)

    def _pending(self) -> int:
        """Distinct tombstoned ids (one small aggregate job)."""
        if self.tombstones is None:
            return 0
        return self.tombstones.select(self._tomb_col).distinct().count()

    def _lifecycle_stats(self, pending: int) -> dict:
        return {
            "tombstones_pending": pending,
            "generation": self.generation,
            "superseded_generations": (
                self._superseded() if self.path is not None else []
            ),
        }

    def _superseded(self) -> list:
        gens = generations(self._spark, self.path, self.LAYOUT)
        return sorted(g for g in gens[self.LAYOUT.stems[0]] if g < self.generation)

    def _retire(self, retain: int) -> tuple:
        """Delete superseded generations beyond the newest ``retain``;
        returns (kept, removed)."""
        superseded = self._superseded()
        kept = superseded[len(superseded) - retain:] if retain > 0 else []
        removed = [g for g in superseded if g not in kept]
        for g in removed:
            if g or not self.LAYOUT.root:
                for d in self._dirs(g):
                    hfs.delete(self._spark, d)
                continue
            # generation 0 at the path root: only its entries and the
            # write markers, never newer generation dirs, the meta
            # sidecar or the lease
            for name in hfs.list_names(self._spark, self.path):
                full = self.path.rstrip("/") + "/" + name
                if name.startswith(self.LAYOUT.root):
                    hfs.delete(self._spark, full)
                elif name == "_SUCCESS" or name.startswith("_committed"):
                    hfs.delete(self._spark, full, recursive=False)
        return kept, removed

    def _flip(self, rewrite, retain: int, **state) -> tuple:
        """Generation flip: ``rewrite()`` writes generation N+1 into
        ``_dirs()``, the meta pointer flips, the consumed tombstones
        go, the index reloads and retention applies. ``state``:
        attributes the new generation's meta carries (refit's
        geometry), restored with the pointer if the rewrite fails.
        Returns (kept, removed) superseded generations."""
        old = {k: getattr(self, k) for k in (*state, "generation")}
        for k, v in {**state, "generation": self.generation + 1}.items():
            setattr(self, k, v)
        try:
            rewrite()
            self._write_meta(self._spark, self.path)
        except Exception:
            for k, v in old.items():  # the pointer still names them
                setattr(self, k, v)
            raise
        hfs.delete(self._spark, self._tombstones_dir())
        self._reload(self._spark)
        return self._retire(retain)

    def vacuum(self, lease: bool = True) -> dict:
        """Delete every superseded generation now (see the module
        docstring). Pending tombstones belong to the live generation
        and stay."""
        with writer(self, "vacuum", lease):
            _, removed = self._retire(0)
            return {
                "removed_generations": removed,
                "live_generation": self.generation,
            }
