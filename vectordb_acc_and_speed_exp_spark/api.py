"""Collection-style client facade — the user-facing surface a reference
user would switch to (ChromaDB client semantics: create_collection / add /
query / count / list_collections / delete_collection, SURVEY.md §2.1 S7/S8,
create_collections.py:74-77, :245-263, :451-468).

A collection is a parquet directory under ``root`` holding
(id string, text string, embedding array<float>, ...metadata columns).
Query modes map to the engine's search operators:

    exact   operators.knn.exact_knn        (brute-force oracle, V2)
    blas    operators.simjoin.cosine_knn_join (gemm kernel)
    lsh     operators.ann.lsh_ann          (multiprobe sign-LSH, V3)
    graph   operators.graphann             (per-collection NSW index — the
            closest analogue to ChromaDB's per-collection HNSW; built on
            first graph query, kept fresh incrementally by add())
    mtlsh   operators.mtlsh                (multiprobe multi-table LSH over
            a table-partitioned signature index — the EP3 scale star)
    auto    operators.filtered             (where= chooser: EP8's measured
            exact-vs-widened-IVF rule)

The six compressed modes are one family table (``_quantizers``, in
operators/quantized.py) over one operator skeleton there: approximate scan →
top-``shortlist`` by (adist, item_id) → exact L2 re-rank → top-k by
(dist, item_id). A mode is a quantizer family in a layout:

    family  scorer (operators/<fam>.py)    flat mode   composed IVF mode
    bq      packed 1-bit codes, codegen    bq          ivfbq (EP5 scale
            Hamming (no Python in scan)                star)
    pq      8x16 product codes, ADC LUT    pq          ivfpq
            gather in a NumPy kernel
    sq      int8 codes, decode + gemm in   sq          ivfsq
            a NumPy kernel

Flat code tables are whole-corpus artifacts under ``.<fam>_index/<name>``
(frozen params; add() appends the batch's codes); composed tables live
cell-partitioned inside the IVF root and add()/upsert() re-encode only
the touched cells. Build, write, drift bookkeeping, calibration and
serve run the same code for every family; each family supplies only its
params, encode, reconstruction error and scorer.

Text queries are encoded with the same (pluggable) encoder used at add
time (V1/V6). Unlike ChromaDB — where every collection owns a private HNSW
index rebuilt per collection — adds are parquet appends and search scans
prune columns; the cumulative-snapshot workflow therefore doesn't need 56
physical copies (operators/snapshots.py).
"""

from __future__ import annotations

import functools
import json
import os
import shutil
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .io.local import local_df
from .operators.ann import LSH_N_PLANES
from .operators.embedding import DEFAULT_DIM, embed_documents
from .operators.knn import exact_knn
from .operators.probetune import (
    CALIB_VERSION,
    DEFAULT_TARGET_RECALL,
    choose_budget,
    curve_is_stale,
)
from .operators.quantized import (
    _quantizers,
    ivf_codes_upsert,
    load_params,
    write_code_table,
)


_QUANT_FAMILIES = ("bq", "pq", "sq")
_COMPOSED = tuple(f"ivf{f}" for f in _QUANT_FAMILIES)
# the modes whose target_recall= budget is one curve lookup, and the
# budget that guarantees an exact answer (None: no finite budget of the
# index does, so a miss or a target >= 1 reroutes to the exact scan)
_FULL_BUDGET = {"lsh": LSH_N_PLANES, "mtlsh": None, "graph": None}


class VectorStore:
    """Minimal collection catalog over a parquet root."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        dim: int = DEFAULT_DIM,
        model_path: str | None = None,
    ):
        self.spark = spark
        self.root = root
        self.dim = dim
        self.model_path = model_path
        os.makedirs(root, exist_ok=True)

    # -- catalog ops (S8) --------------------------------------------------
    def _path(self, name: str) -> str:
        if not name or "/" in name or name.startswith("."):
            raise ValueError(f"bad collection name {name!r}")
        return os.path.join(self.root, name)

    # optimize()'s crash-safe rewrite stages sibling dirs with these
    # suffixes (io/catalog.py::_rewrite_in_place); they are never
    # collections and must stay invisible to the catalog surface
    _STAGING_SUFFIXES = ("._compact_staged", "._pre_compact")

    def list_collections(self) -> list[str]:
        return sorted(
            d
            for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d))
            and not d.startswith(".")
            and not d.endswith(self._STAGING_SUFFIXES)
        )

    def _heal_on_read(self, path: str) -> None:
        """If an optimize() died between its two renames, the collection
        dir is absent and the data sits in full at ``._pre_compact`` —
        roll it back before any read. ONLY the rollback half of
        io/catalog.py::_heal_crashed_rewrite runs here: deleting a
        leftover staging dir from a read path would race an optimize()
        mid-write."""
        backup = path + "._pre_compact"
        if not os.path.exists(path) and os.path.exists(backup):
            os.rename(backup, path)

    # every per-collection serving artifact lives under a dot-prefixed
    # sibling root (invisible to list_collections, invalid as a collection
    # name); they are pure functions of the collection and are invalidated
    # or incrementally maintained in lockstep with writes
    _INDEX_DIRS = (
        ".graph_index", ".graph_pending", ".bq_index", ".ivf_index",
        ".mtlsh_index", ".postings_index", ".dedup_index", ".pq_index",
        ".sq_index",
    )

    def _invalidate_indexes(self, name: str, dirs=None) -> None:
        for d in dirs if dirs is not None else self._INDEX_DIRS:
            shutil.rmtree(os.path.join(self.root, d, name), ignore_errors=True)
        if dirs is None:
            # full invalidation clears any torn-freshen marker too: the
            # artifacts it guards no longer exist
            try:
                os.remove(self._freshen_intent_path(name))
            except OSError:
                pass
            # ... and the artifact-less lsh bits-curve sidecar (a FILE,
            # so the rmtree loop above never touches it): it is a pure
            # function of the corpus, which just changed
            self._drop_lsh_calib(name)

    def _drop_lsh_calib(self, name: str) -> None:
        # current layout: k-keyed ``k{k}.json`` sidecars in a
        # PER-COLLECTION subdirectory (ADVICE r11) — flat
        # ``name_k{k}.json`` files made exact deletion impossible
        # (``c_k2.json`` is indistinguishable from collection ``c``'s
        # k=2 curve and collection ``c_k2``'s bare k=10 curve), a
        # directory per collection makes ownership structural
        shutil.rmtree(
            os.path.join(self.root, ".lsh_calib", name), ignore_errors=True
        )
        # legacy flat layout (pre-r12): only the bare k=10 file is
        # unambiguously this collection's — remove it. Legacy k-suffixed
        # files (name_k{k}.json) are left alone BY DESIGN: the name is
        # ambiguous with a sibling collection's bare sidecar, and reads
        # no longer fall back to them (they are dead files, recalibrated
        # into the subdir on first use), so a survivor can never serve.
        try:
            os.remove(os.path.join(self.root, ".lsh_calib", name + ".json"))
        except OSError:
            pass

    def delete_collection(self, name: str) -> None:
        shutil.rmtree(self._path(name), ignore_errors=True)
        for suf in self._STAGING_SUFFIXES:  # crashed-optimize leftovers
            shutil.rmtree(self._path(name) + suf, ignore_errors=True)
        self._invalidate_indexes(name)

    def count(self, name: str) -> int:
        return self.get(name).count()

    def get(
        self,
        name: str,
        ids: list | None = None,
        where: str | None = None,
        limit: int | None = None,
    ) -> DataFrame:
        """Read a collection, optionally narrowed the ChromaDB way:
        ``ids`` (id membership), ``where`` (SQL predicate over the
        collection's columns), ``limit``. Filters are plain Catalyst
        predicates, so they push into the parquet scan. The relation is
        the session-cached ``read_layout`` one: every write to the
        collection changes its layout signature, so a read after any
        write plans over the new files, and a read over unchanged files
        pays no schema-inference job."""
        from .io.relcache import read_layout

        p = self._path(name)
        self._heal_on_read(p)
        df = read_layout(self.spark, p)
        if ids is not None:
            df = df.filter(F.col("id").isin(list(ids)))
        if where is not None:
            df = df.filter(where)
        if limit is not None:
            df = df.limit(limit)
        return df

    def peek(self, name: str, n: int = 10) -> DataFrame:
        """First n records (ChromaDB ``collection.peek``)."""
        return self.get(name, limit=n)

    def optimize(
        self, name: str, cluster_by: list[str] | None = None
    ) -> tuple[int, int]:
        """Collection maintenance: compact the micro-batch file litter
        add()/upsert() leave behind, optionally clustering on metadata
        columns so subsequent ``where=`` predicates prune at scan time
        (io/catalog.py optimize_layout — tight per-file min/max stats meet
        the pushed filter). Content-identical, so the derived index
        artifacts stay valid — no invalidation. Returns
        (files_before, files_after)."""
        from .io.catalog import compact_table, optimize_layout

        # incrementally appended mtlsh signatures ride the same
        # maintenance cadence: drop superseded gens, restore the global
        # within-partition bucket sort appends only keep per file.
        # gen == 0 means no batch was ever appended — the initial write
        # is already one globally bucket-sorted file per table, so the
        # O(index) rewrite would be a pure no-op; skip it.
        if self._mtlsh_is_incremental(name):
            from .operators.mtlsh import (
                compact_mt_lsh_index,
                read_mt_lsh_meta,
            )

            mtp = self._mtlsh_path(name)
            m = read_mt_lsh_meta(mtp)
            # skip when nothing was appended since the last compaction
            # (the compacted_gen watermark auto-compaction stamps):
            # repeated optimize() calls must not re-pay the O(index)
            # rewrite for a no-op
            if int(m.get("gen", 0)) > int(m.get("compacted_gen", 0)):
                compact_mt_lsh_index(self.spark, mtp)
        # flat code tables past the auto-compact threshold: normally the
        # inline path keeps them bounded, but add(defer_maintenance=True)
        # accrues debt here instead (VERDICT r11 #5) — optimize() is the
        # explicit cadence that clears it
        for fam in _QUANT_FAMILIES:
            codes = self._qpaths(name, fam)[2]
            self._heal_on_read(codes)
            self._maybe_compact_codes(codes)
        # graph deferred-write buffer (VERDICT r12 #4): fold buffered
        # rows into their shards in one upsert; queries stop paying the
        # per-query buffer scan
        if os.path.isdir(self._graph_path(name)) and self._graph_pending_files(
            name
        ):
            self._fold_graph_pending(name)
        # IVF cell layouts (corpus + composed code tables): compact any
        # table whose deferred appends pushed its per-cell file excess
        # past the threshold — same cadence contract as the flat codes
        ivf_root = self._ivf_path(name)
        if os.path.exists(os.path.join(ivf_root, "_meta.json")):
            for _key, sub in self._IVF_CELL_TABLES:
                p = os.path.join(ivf_root, sub)
                st = self._cell_table_stats(p)
                if st is not None and st["files"] > st["cells"]:
                    self._compact_cell_table(p)
        if cluster_by:
            return optimize_layout(self.spark, self._path(name), cluster_by)
        return compact_table(self.spark, self._path(name))

    def maintenance_due(self, name: str) -> dict:
        """Compaction-debt report (VERDICT r11 #5): what a sequence of
        ``add(..., defer_maintenance=True)`` calls has accrued, from the
        same watermarks and file counts the inline path triggers on — no
        extra bookkeeping, so the report can never drift from reality.
        All five index surfaces report (VERDICT r12 #4): mt-LSH pending
        generations, flat code-table file counts, the graph index's
        deferred-write buffer, and the IVF cell layout plus its composed
        code tables' per-cell file excess.
        ``{"due": bool, "mtlsh": {pending_gens, due} | None,
        "codes": {family: {files, due}},
        "graph": {pending_files, due} | None,
        "ivf": {table: {cells, files, due}},
        "collection_files": int}``;
        ``optimize()`` clears everything reported due."""
        out: dict = {"mtlsh": None, "codes": {}, "graph": None, "ivf": {}}
        if os.path.isdir(self._graph_path(name)):
            n = self._graph_pending_files(name)
            # unlike file-count compaction debt, buffered rows cost every
            # graph query an extra exact scan — any pending file is due
            out["graph"] = {"pending_files": n, "due": n > 0}
        ivf_root = self._ivf_path(name)
        if os.path.exists(os.path.join(ivf_root, "_meta.json")):
            for key, sub in self._IVF_CELL_TABLES:
                st = self._cell_table_stats(os.path.join(ivf_root, sub))
                if st is not None:
                    out["ivf"][key] = st
        if self._mtlsh_is_incremental(name):
            from .operators.mtlsh import (
                AUTO_COMPACT_APPENDS,
                read_mt_lsh_meta,
            )

            m = read_mt_lsh_meta(self._mtlsh_path(name))
            pending = int(m.get("gen", 0)) - int(m.get("compacted_gen", 0))
            out["mtlsh"] = {
                "pending_gens": pending,
                "due": pending >= AUTO_COMPACT_APPENDS,
            }
        for fam in _QUANT_FAMILIES:
            codes = self._qpaths(name, fam)[2]
            if os.path.isdir(codes) or os.path.isdir(
                codes + "._pre_compact"
            ):
                n = self._codes_file_count(codes) or self._codes_file_count(
                    codes + "._pre_compact"
                )
                out["codes"][fam] = {
                    "files": n,
                    "due": n >= self._CODES_AUTO_COMPACT_FILES,
                }
        try:
            out["collection_files"] = sum(
                1 for f in os.listdir(self._path(name))
                if f.endswith(".parquet")
            )
        except OSError:
            out["collection_files"] = 0
        out["due"] = bool(
            (out["mtlsh"] or {}).get("due")
            or any(c["due"] for c in out["codes"].values())
            or (out["graph"] or {}).get("due")
            or any(c["due"] for c in out["ivf"].values())
        )
        return out

    # -- writes (S7) -------------------------------------------------------
    def create_collection(
        self, name: str, docs: DataFrame, id_col: str = "id", text_col: str = "text"
    ) -> None:
        """Embed (if no embedding column) and persist. Overwrites —
        mirroring the reference's delete+create (CC:255-263)."""
        self._write(name, docs, id_col, text_col, mode="overwrite")

    def add(
        self,
        name: str,
        docs: DataFrame,
        id_col: str = "id",
        text_col: str = "text",
        defer_maintenance: bool = False,
    ) -> None:
        """Append records (the reference's batched collection.add). If the
        collection has a graph index (a prior mode="graph" query built one),
        the new rows are upserted into it — only the shards they land in
        rebuild, so adds stay O(batch), not O(collection).

        Duplicate ids (within the batch or against the collection) are
        rejected, mirroring ChromaDB's DuplicateIDError — an appended
        duplicate would diverge from the graph index, which replaces;
        use upsert() for replace semantics.

        ``defer_maintenance=True`` (VERDICT r11 #5, extended to every
        index surface in r12 #4) skips every inline rewrite a batch
        could otherwise stall on: mt-LSH auto-compaction, flat code
        compaction, graph SHARD rebuilds (rows buffer into a side table
        the serve path exact-scans and merges), and IVF cell rewrites
        (rows and their codes append per cell with frozen params).
        Every append stays O(batch), debt accrues instead (visible via
        :meth:`maintenance_due`, derived from the filesystem), and
        ``optimize()`` — or the next non-deferred write for the
        mtlsh/graph surfaces — clears it. The default stays inline:
        bounded read amplification without operator discipline."""
        docs = docs.withColumnRenamed(id_col, "id") if id_col != "id" else docs
        n_rows = docs.count()
        if docs.select("id").distinct().count() != n_rows:
            raise ValueError("add(): duplicate ids within the batch")
        if os.path.exists(self._path(name)):
            n_clash = (
                docs.select("id")
                .join(self.get(name).select("id"), "id", "left_semi")
                .count()
            )
            if n_clash:
                raise ValueError(
                    f"add(): {n_clash} id(s) already exist — use upsert()"
                )
        docs = self._write(name, docs, "id", text_col, mode="append")
        self._freshen_indexes(name, docs, defer_maintenance=defer_maintenance)

    def upsert(
        self, name: str, docs: DataFrame, id_col: str = "id", text_col: str = "text"
    ) -> None:
        """Replace-or-insert by id (the ChromaDB ``collection.upsert``):
        rows whose id already exists are replaced, new ids are appended.
        The collection stays a pure function of the final (id → row) map,
        and a live graph index is kept fresh by the same shard upsert
        add() uses (same id ⇒ same shard, so replacement is complete).

        A flat parquet collection rewrites whole files on upsert; the
        partitioned layouts (operators/ann.py cell dirs) are the 100 TB
        shape — this facade mirrors ChromaDB's per-collection
        granularity."""
        if "embedding" not in docs.columns:
            docs = embed_documents(
                docs, text_col=text_col, dim=self.dim, model_path=self.model_path
            )
        docs = docs.withColumnRenamed(id_col, "id") if id_col != "id" else docs
        # duplicate ids inside one upsert frame would ALL land in the
        # collection (the anti-join removes only old rows); collapse to
        # one row per id deterministically (max over the remaining
        # columns as a struct — a pure function of the row SET; real CDC
        # feeds order by a sequence column instead)
        other = [c for c in docs.columns if c != "id"]
        docs = docs.groupBy("id").agg(
            F.max(F.struct(*other)).alias("_r")
        ).select("id", *[F.col(f"_r.{c}").alias(c) for c in other])
        path = self._path(name)
        if os.path.exists(path):
            existing_cols = self.get(name).columns
            new_cols = [c for c in docs.columns if c not in existing_cols]
            if new_cols:
                raise ValueError(
                    f"upsert(): columns {new_cols} do not exist on the "
                    "collection — recreate it to change the schema"
                )
            aligned = docs.select(
                *[
                    F.col(c) if c in docs.columns
                    else F.lit(None).cast(dict(self.get(name).dtypes)[c]).alias(c)
                    for c in existing_cols
                ]
            )
            merged = (
                self.get(name)
                .join(docs.select("id"), "id", "left_anti")
                .unionByName(aligned)
                .localCheckpoint(eager=True)  # break lineage to path pre-overwrite
            )
            merged.write.mode("overwrite").parquet(path)
            docs = aligned
        else:
            docs.write.mode("overwrite").parquet(path)
        # whole-corpus artifacts can't absorb a batch: invalidate (they
        # rebuild lazily); shard/cell/bucket-grained ones absorb it below.
        # The dedup index invalidates too: a REPLACED row's old signatures
        # would have to leave the index and its cluster might SPLIT —
        # incremental CC only merges, so replacement means lazy rebuild.
        # The flat code tables invalidate on REPLACE (their serve paths
        # key one code row per id — a stale row would score the old
        # vector); mt-LSH does NOT: its candidates are exact re-ranked
        # against the CURRENT corpus, so a replaced id's stale bucket
        # rows are scan waste, not answers, and the new vector's true
        # buckets append in _freshen_indexes (compaction drops the
        # superseded gens). Pre-contract mtlsh artifacts still drop.
        inval = [".bq_index", ".dedup_index", ".pq_index", ".sq_index"]
        if not self._mtlsh_is_incremental(name):
            inval.append(".mtlsh_index")
        else:
            # replacement can shift the distribution the budget curve
            # was measured on (same rationale as _drop_lsh_calib below);
            # curves are k-keyed, so sweep every _budget_curve*.json
            import glob

            for p in glob.glob(
                os.path.join(self._mtlsh_path(name), "_budget_curve*.json")
            ):
                try:
                    os.remove(p)
                except OSError:
                    pass
        self._invalidate_indexes(name, dirs=tuple(inval))
        # replacement can shift the distribution the lsh bits curve was
        # measured on; the growth check alone would never notice
        self._drop_lsh_calib(name)
        self._freshen_indexes(name, docs)

    def delete(
        self, name: str, ids: list | None = None, where: str | None = None
    ) -> None:
        """Delete records by id and/or metadata predicate (ChromaDB
        ``collection.delete(ids=..., where=...)``; both given = AND, the
        ChromaDB semantics). The graph index is dropped rather than
        patched — NSW shards have no cheap tombstone story; the next
        graph query rebuilds lazily from the post-delete rows (correct by
        construction)."""
        if ids is None and where is None:
            raise ValueError("delete() needs ids and/or where")
        path = self._path(name)
        doomed = F.lit(True)
        if ids is not None:
            doomed = doomed & F.col("id").isin(list(ids))
        if where is not None:
            doomed = doomed & F.expr(where)
        # a NULL predicate result must mean "not matched", not "deleted":
        # ~NULL is NULL and filter drops it, silently deleting every row
        # where a nullable metadata column made the WHERE evaluate NULL
        kept = (
            self.get(name)
            .filter(~F.coalesce(doomed, F.lit(False)))
            .localCheckpoint(eager=True)
        )
        kept.write.mode("overwrite").parquet(path)
        # no index here has a cheap tombstone story — drop them all; the
        # next query of each mode rebuilds lazily from the post-delete rows
        self._invalidate_indexes(name)

    def _write(self, name, docs, id_col, text_col, mode) -> DataFrame:
        if "embedding" not in docs.columns:
            docs = embed_documents(
                docs, text_col=text_col, dim=self.dim, model_path=self.model_path
            )
        docs = docs.withColumnRenamed(id_col, "id") if id_col != "id" else docs
        docs.write.mode(mode).parquet(self._path(name))
        if mode == "overwrite":
            self._invalidate_indexes(name)
        else:
            # append: batch-grained indexes are freshened by the caller
            # (add). Flat bq/pq/sq code tables are ALSO append-grained
            # since round 9 (VERDICT r08 #2): the quantizer params are
            # frozen (the FAISS add() model), the batch encodes O(batch)
            # with them in _freshen_indexes, and the drift tracker
            # (operators/drift.py) measures when the frozen params need
            # the offline retrain — re-encoding the whole corpus per
            # append was O(collection) work the 100 TB shape can't pay.
            # mt-LSH is ALSO append-grained since round 10 (VERDICT r09
            # #1): the plane matrix is corpus-independent, so the batch's
            # signatures append with frozen planes in _freshen_indexes
            # (mt_lsh_signatures_upsert). Pre-contract artifacts (no
            # n_corpus bookkeeping — they lack the gen column the
            # incremental schema carries) still invalidate, as do
            # pre-round-9 flat artifacts without a drift baseline.
            dirs = []
            if not self._mtlsh_is_incremental(name):
                dirs.append(".mtlsh_index")
            from .operators.drift import drift_path

            for fam in _QUANT_FAMILIES:
                p = self._qpaths(name, fam)[0]
                if os.path.exists(p) and not os.path.exists(drift_path(p)):
                    dirs.append(f".{fam}_index")
            self._invalidate_indexes(name, dirs=tuple(dirs))
        return docs

    def _freshen_intent_path(self, name: str) -> str:
        return os.path.join(self.root, ".facade_intent", name + ".json")

    def _heal_torn_freshen(self, name: str) -> None:
        """Read-side half of the freshen crash contract (ADVICE r08): a
        crash mid-_freshen_indexes leaves the intent marker behind, and
        until round 8 only the NEXT write consulted it — queries issued
        in between served the torn graph/ivf/postings/dedup artifacts.
        Every serve path calls this first (one os.path.exists when
        healthy): a leftover marker drops the incrementally-maintained
        indexes for lazy rebuild from the durable collection rows, so the
        FIRST query after a crash heals instead of serving inconsistent
        artifacts."""
        ip = self._freshen_intent_path(name)
        if os.path.exists(ip):
            self._invalidate_indexes(
                name,
                dirs=(".graph_index", ".graph_pending", ".ivf_index",
                      ".postings_index", ".dedup_index", ".bq_index",
                      ".pq_index", ".sq_index", ".mtlsh_index"),
            )
            os.remove(ip)

    # flat code tables gain ~one file per append batch; past this many
    # parquet files the NEXT write compacts the codes dir inline (narrow
    # coalesce rewrite, staged + swapped — io/catalog.py::compact_table).
    # Same bounded-read-amplification contract as the mt-LSH
    # AUTO_COMPACT_APPENDS threshold (VERDICT r10 #6); 16 keeps the
    # amortized rewrite tax per batch a small multiple of the append
    # itself while the serve scan never reads more than ~17 files.
    _CODES_AUTO_COMPACT_FILES = 16

    def _codes_file_count(self, codes: str) -> int:
        try:
            return sum(
                1 for f in os.listdir(codes) if f.endswith(".parquet")
            )
        except OSError:
            return 0

    def _maybe_compact_codes(self, codes: str, defer: bool = False) -> None:
        """Inline auto-compaction past the file threshold — unless the
        caller deferred maintenance (VERDICT r11 #5: the inline rewrite
        lands as one ~37 s stall on the unlucky batch at large tables —
        fine for batch writers, hostile to latency-sensitive ingest).
        Deferred debt needs no bookkeeping: it IS the file count, which
        maintenance_due() reports and optimize() clears."""
        if self._codes_file_count(codes) >= self._CODES_AUTO_COMPACT_FILES:
            if defer:
                return
            from .io.catalog import compact_table

            compact_table(self.spark, codes)

    # IVF cell-partitioned tables under the collection's index root, as
    # (report key, subdirectory) pairs — the deferral valve's append
    # targets and maintenance_due()'s inventory (VERDICT r12 #4)
    _IVF_CELL_TABLES = (
        ("corpus", "corpus"),
        ("bqcodes", "bqcodes"),
        ("sqcodes", "sqcodes"),
        ("pqcodes", "pqcodes"),
    )

    def _cell_table_stats(self, path: str) -> dict | None:
        """{"cells", "files", "max_files_per_cell", "due"} for a
        cell-partitioned layout, or None when absent. A compacted layout
        holds ~1 file per cell directory and every deferred append adds
        up to one file per touched cell — the read amplification a probe
        actually pays is the file count of the cells it reads, so debt
        is DUE when the worst cell's file count reaches the same
        threshold the flat code dirs compact at (a total-excess rule
        would fire after one wide batch touching many cells, which costs
        probes nothing). Derived from the filesystem, never from
        bookkeeping that could drift."""
        if not os.path.isdir(path):
            return None
        cells = files = mx = 0
        for d in os.listdir(path):
            sub = os.path.join(path, d)
            if d.startswith("cell=") and os.path.isdir(sub):
                cells += 1
                n = sum(1 for f in os.listdir(sub) if f.endswith(".parquet"))
                files += n
                mx = max(mx, n)
        return {
            "cells": cells,
            "files": files,
            "max_files_per_cell": mx,
            "due": mx >= self._CODES_AUTO_COMPACT_FILES,
        }

    def _compact_cell_table(self, path: str) -> None:
        """Rewrite a cell-partitioned layout back to ~1 file per cell
        (dynamic partition overwrite; lineage broken before the rewrite
        reads its own output path)."""
        from .io.relcache import read_layout

        df = read_layout(self.spark, path).localCheckpoint(eager=True)
        idc = df.columns[0]
        (
            df.repartition("cell")
            .sortWithinPartitions(idc)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("cell")
            .parquet(path)
        )

    def _defer_ivf_maintenance(self, name: str, docs: DataFrame) -> None:
        """Deferral valve, IVF surface (VERDICT r12 #4): the inline path
        REWRITES every cell directory the batch touches — and re-encodes
        those whole cells into each composed code table — which is
        bounded but lands as a stall on the unlucky batch. Deferred, the
        batch is assigned with the FROZEN centroids and APPENDED per
        cell: corpus rows and batch-encoded code rows alike land as new
        files inside the same ``cell=`` directories, so cell pruning and
        the strict per-query cell masks are unchanged and serves stay
        correct. add()-only ids (the facade rejects duplicates), so
        append == upsert here. The only cost is file-count growth —
        reported by maintenance_due() straight from the filesystem and
        compacted by optimize(). Drift bookkeeping is identical to the
        inline path: coarse assignment error plus each present family's
        reconstruction error under its frozen parameters."""
        from .operators.ann import ivf_assign
        from .operators.drift import (
            drift_path,
            mean_coarse_qerr,
            record_batch_qerr,
        )

        ivf_root = self._ivf_path(name)
        corpus_path = os.path.join(ivf_root, "corpus")
        cents = self.spark.read.parquet(os.path.join(ivf_root, "centroids"))
        track = os.path.exists(drift_path(ivf_root))
        assigned = ivf_assign(
            docs, cents, item_vec="embedding",
            keep_dist="_qerr" if track else None,
        )
        if track:
            qm, qn = mean_coarse_qerr(assigned)
            record_batch_qerr(ivf_root, qm, qn)
            assigned = assigned.drop("_qerr")
        # one pass feeds the corpus append and up to three encoders
        assigned = assigned.localCheckpoint(eager=True)
        (
            assigned.repartition("cell")
            .sortWithinPartitions("id")
            .write.mode("append")
            .partitionBy("cell")
            .parquet(corpus_path)
        )

        for fam, q in _quantizers().items():
            _, meta, codes, npy, _ = self._qpaths(name, fam, ivf=True)
            if os.path.exists(meta):
                enc = self._encode_batch(
                    q, load_params(q, meta, npy), assigned, codes,
                    passthrough=("cell",),
                ).drop("_qerr")
                (
                    enc.repartition("cell")
                    .sortWithinPartitions(enc.columns[0])
                    .write.mode("append")
                    .partitionBy("cell")
                    .parquet(codes)
                )

    def _freshen_indexes(
        self, name: str, docs: DataFrame, defer_maintenance: bool = False
    ) -> None:
        """Incremental maintenance after an add/upsert batch: every index
        with a shard/cell/bucket-grained upsert absorbs the batch touching
        only the partitions it lands in — graph shards
        (graph_index_upsert), IVF cells + their packed-code twin
        (ivf_index_upsert / ivfbq_codes_upsert), lexical postings buckets
        (postings_upsert). Whole-corpus artifacts were invalidated by the
        caller. O(batch), never O(collection).

        Crash contract (ADVICE r07): the upsert primitives assume
        micro-batch REDELIVERY to converge a torn write, but the batch
        facade has none — a crash mid-freshen (e.g. postings layout
        written, forward layout not) would otherwise serve inconsistent
        artifacts until an unrelated rebuild.  So: publish a facade-level
        intent marker before touching any index; if a previous add()/
        upsert() left one behind, drop every incrementally-maintained
        index for lazy rebuild from the already-landed collection rows
        (correct by construction), then absorb this batch; unmark only
        after every index absorbed it."""
        # torn prior freshen: the collection rows are durable (landed
        # before _freshen_indexes), the derived artifacts may not be
        self._heal_torn_freshen(name)
        ip = self._freshen_intent_path(name)
        from .io.commitproto import publish_marker

        publish_marker(ip, {"stage": "freshen-in-flight"})

        if os.path.exists(self._graph_path(name)):
            batch = docs.select(
                "id", F.col("embedding").cast("array<double>").alias("embedding")
            )
            if defer_maintenance:
                # deferral valve, graph surface (VERDICT r12 #4): the
                # inline path REBUILDS every shard the batch lands in
                # (O(shard) stall each); deferred rows append O(batch)
                # into a flat side buffer instead. The serve path
                # exact-scans the buffer (batch-sized) and merges — the
                # HNSW-plus-fresh-buffer operational model — so results
                # stay complete while the debt is visible
                # (maintenance_due) and clearable (optimize / the next
                # non-deferred write, which folds the buffer below).
                batch.write.mode("append").parquet(
                    self._graph_pending_path(name)
                )
            else:
                self._fold_graph_pending(name, batch)
        ivf_root = self._ivf_path(name)
        if defer_maintenance and os.path.exists(
            os.path.join(ivf_root, "_meta.json")
        ):
            self._defer_ivf_maintenance(name, docs)
        elif os.path.exists(os.path.join(ivf_root, "_meta.json")):
            from .operators.ann import ivf_index_upsert

            corpus_path = os.path.join(ivf_root, "corpus")
            cents = self.spark.read.parquet(os.path.join(ivf_root, "centroids"))
            cells = ivf_index_upsert(
                self.spark, corpus_path, docs, cents, item_id="id"
            )
            for fam, q in _quantizers().items():
                _, meta, codes, npy, _ = self._qpaths(name, fam, ivf=True)
                if not os.path.exists(meta):
                    continue
                p = load_params(q, meta, npy)
                ivf_codes_upsert(
                    self.spark, corpus_path, codes,
                    lambda df, q=q, p=p: q.encode(df, p, ("cell",)), cells,
                )
                # fine-quantizer drift (EP13): the batch's reconstruction
                # error under the frozen params
                self._encode_batch(q, p, docs.select("id", "embedding"), codes)
        postings = self._postings_path(name)
        if os.path.exists(os.path.join(postings, "_META.json")):
            from .operators.postings import postings_upsert

            postings_upsert(
                self.spark, postings, docs.select("id", "text"), id_col="id"
            )
        # mt-LSH signature append (VERDICT r09 #1): the planes are frozen
        # in the meta sidecar (corpus-independent, seeded), so the batch
        # signs O(batch) and appends per table partition — guarded on the
        # incremental bookkeeping (pre-contract artifacts were dropped by
        # the caller's invalidation)
        if self._mtlsh_is_incremental(name):
            from .operators.mtlsh import (
                AUTO_COMPACT_APPENDS,
                compact_mt_lsh_index,
                mt_lsh_signatures_upsert,
                read_mt_lsh_meta,
            )

            mtp = self._mtlsh_path(name)
            mt_lsh_signatures_upsert(
                self.spark, mtp,
                docs.select("id", "embedding"), item_id="id",
            )
            # amortized auto-compaction (VERDICT r10 #6): without a
            # threshold the index appends one file per table per batch
            # until someone REMEMBERS to call optimize() — read
            # amplification bounded only by operator discipline. Past
            # AUTO_COMPACT_APPENDS appends since the last compaction,
            # this write pays the O(index) rewrite inline (economics in
            # operators/mtlsh.py at the constant).
            m = read_mt_lsh_meta(mtp)
            if not defer_maintenance and (
                int(m.get("gen", 0)) - int(m.get("compacted_gen", 0))
                >= AUTO_COMPACT_APPENDS
            ):
                compact_mt_lsh_index(self.spark, mtp)
        # flat code tables (VERDICT r08 #2): encode ONLY the batch with
        # the frozen quantizer params, append it, and fold the batch's
        # reconstruction error into the drift accumulator — the encode
        # pass the append already owes is also the drift measurement.
        # Guarded on the drift baseline AND the family's _meta.json: the
        # meta is each build's commit point (written last), so a crash
        # between the baseline write and the meta write must route the
        # next add() to lazy rebuild, not a FileNotFoundError here
        # (ADVICE r09).
        from .operators.drift import drift_path

        for fam, q in _quantizers().items():
            root, meta, codes, npy, _ = self._qpaths(name, fam)
            if not (
                os.path.exists(drift_path(root)) and os.path.exists(meta)
            ):
                continue
            enc = self._encode_batch(
                q, load_params(q, meta, npy), docs, root
            )
            # roll back a crashed auto-compaction BEFORE appending: an
            # append into the (absent) swap window would create a codes
            # dir holding only this batch while the full table sat in
            # ._pre_compact — silent data loss on the serve path
            self._heal_on_read(codes)
            (enc if q.qerr_in_codes else enc.drop("_qerr")).write.mode(
                "append"
            ).parquet(codes)
            self._maybe_compact_codes(codes, defer=defer_maintenance)
        dd = self._dedup_path(name)
        if os.path.exists(os.path.join(dd, "bands")):
            from .streaming.dedup_maintenance import (
                dedup_index_upsert,
                next_ingest_batch_id,
            )

            # batch-grained: new rows mine pairs against the signature
            # index (never old-vs-old) and the discovered pairs fold into
            # the maintained cluster table — add() only MERGES clusters,
            # which is exactly what incremental CC supports
            dedup_index_upsert(
                self.spark, dd, docs.select("id", "text"),
                next_ingest_batch_id(dd), id_col="id", text_col="text",
                maintain_clusters=True,
            )
        os.remove(ip)

    # -- compressed code tables (bq / pq / sq, flat and composed) ----------
    def _qpaths(self, name: str, fam: str, ivf: bool = False):
        """(root, meta, codes, npy, drift_root) of a family's code
        artifact. Flat: ``.<fam>_index/<name>/{_meta.json, codes,
        books.npy}`` with the drift baseline at the root. Composed: inside
        the IVF root as ``_<fam>_meta.json``, ``<fam>codes`` and
        ``pq_books.npy``, the drift baseline INSIDE the codes dir
        (dynamic cell overwrites never touch top-level files)."""
        if ivf:
            root = self._ivf_path(name)
            codes = os.path.join(root, f"{fam}codes")
            return (root, os.path.join(root, f"_{fam}_meta.json"), codes,
                    os.path.join(root, "pq_books.npy"), codes)
        root = os.path.join(self.root, f".{fam}_index", name)
        return (root, os.path.join(root, "_meta.json"),
                os.path.join(root, "codes"), os.path.join(root, "books.npy"),
                root)

    def _ensure_codes(self, name: str, fam: str, ivf: bool = False):
        """Build (or reuse) a family's persisted code table + frozen params
        — the serving shape, so a compressed query scans codes instead of
        re-training and re-encoding the corpus per call. Flat tables are
        whole-corpus artifacts (writes invalidate or append — see
        _write/_freshen_indexes); composed tables are cell-partitioned
        over the IVF layout (add()/upsert() re-encode only the touched
        cells). The build also writes the family's EP13 drift baseline;
        the meta sidecar is its commit point (written last). Returns
        (codes_path, params, ivf_corpus_path, centroids) — the last two
        None for flat tables."""
        q = _quantizers()[fam]
        root, meta, codes, npy, drift_root = self._qpaths(name, fam, ivf)
        corpus_path = cents = None
        if ivf:
            corpus_path, cents = self._ensure_ivf_index(name)
        else:
            # flat codes dirs are auto-compacted by a staged-swap rewrite
            # (_maybe_compact_codes); a crash between its two renames
            # leaves the data in full at ._pre_compact — roll back first
            self._heal_on_read(codes)
        if not os.path.exists(meta):
            corpus = (
                self.spark.read.parquet(corpus_path) if ivf else self.get(name)
            )
            os.makedirs(root, exist_ok=True)
            write_code_table(
                q, q.fit(corpus, self.dim), corpus, codes, meta, npy,
                drift_root, self.dim, ivf,
            )
        return codes, load_params(q, meta, npy), corpus_path, cents

    def _encode_batch(
        self, q, p: dict, df: DataFrame, drift_root: str,
        passthrough: tuple[str, ...] = (),
    ) -> DataFrame:
        """Encode a write batch with FROZEN params. When the artifact has a
        drift baseline, the same pass folds the batch's mean
        reconstruction error into the family's accumulator (EP13: the
        encode the append already owes is the drift measurement)."""
        from .operators.drift import (
            drift_path,
            mean_coarse_qerr,
            record_batch_qerr,
        )

        track = os.path.exists(drift_path(drift_root)) and q.can_recon(p)
        enc = q.encode(df, p, passthrough, track)
        if track:
            enc = enc.localCheckpoint(eager=True)  # one pass: agg + write
            record_batch_qerr(drift_root, *mean_coarse_qerr(enc))
        return enc

    # -- IVF layout + centroids (per-collection, the 100 TB scan shape) ----
    def _ivf_path(self, name: str) -> str:
        return os.path.join(self.root, ".ivf_index", name)

    def _ensure_ivf_index(self, name: str):
        """Build (or reuse) the collection's cell-partitioned IVF layout +
        centroid table — the serving shape for mode="auto" (filtered
        chooser) and mode="ivfbq". Built lazily on first use; add()/
        upsert() keep it fresh via ivf_index_upsert (only the landed cell
        directories rewrite). Returns (corpus_path, centroids DataFrame).

        n_cells ~ sqrt(N) (the classic IVF occupancy dial), clamped to
        [4, 256]; centroids train on a seeded sample when the collection
        is large (the coarse quantizer needs ~hundreds of points per
        cell, not the corpus)."""
        from .operators.ann import (
            ivf_assign_blas,
            kmeans_centroids,
            write_ivf_corpus,
        )

        from .operators.drift import mean_coarse_qerr, write_drift_baseline

        path = self._ivf_path(name)
        cents_path = os.path.join(path, "centroids")
        corpus_path = os.path.join(path, "corpus")
        meta = os.path.join(path, "_meta.json")
        if not os.path.exists(meta):
            corpus = self.get(name)
            n = corpus.count()
            n_cells = max(4, min(256, int(n ** 0.5)))
            frac = min(1.0, (512.0 * n_cells) / max(n, 1))
            cents = kmeans_centroids(
                corpus, n_cells=n_cells,
                sample_fraction=None if frac >= 1.0 else frac,
                item_vec="embedding",
            )
            os.makedirs(path, exist_ok=True)
            cents.write.mode("overwrite").parquet(cents_path)
            # BLAS streaming assignment for the full-collection build
            # (guide §2.4: no n x n_cells crossJoin row expansion);
            # incremental upsert batches keep the window path — they are
            # batch-sized by construction
            assigned = ivf_assign_blas(
                corpus, cents, item_vec="embedding", keep_dist="_qerr"
            ).localCheckpoint(eager=True)
            # training-time coarse quantization error = the drift
            # baseline (EP13): upserts fold their batch error into the
            # ratio that tells the operator when this frozen quantizer
            # needs the offline retrain (operators/drift.py)
            qerr_mean, qerr_n = mean_coarse_qerr(assigned, "_qerr")
            write_ivf_corpus(assigned.drop("_qerr"), corpus_path)
            write_drift_baseline(path, qerr_mean, qerr_n)
            with open(meta, "w") as f:
                json.dump({"n_cells": n_cells}, f)
        return corpus_path, self.spark.read.parquet(cents_path)

    def _collection_nrows(self, name: str) -> int:
        """Collection row count from parquet footers (pyarrow metadata —
        no Spark job, no data read; ~ms). Feeds the size-aware curve
        staleness checks (VERDICT r08 #3)."""
        import pyarrow.dataset as ds

        return ds.dataset(self._path(name), format="parquet").count_rows()

    @staticmethod
    def _k_fname(base: str, k: int) -> str:
        """Sidecar filename for a calibration curve at requested ``k``:
        the bare name for the default k=10 (back-compat with every
        sidecar written before curves were k-keyed), a ``_k{k}`` suffix
        otherwise — one sidecar per (artifact, k), so a k=25 query NEVER
        reads a budget certified only for recall@10 (VERDICT r10 #1).
        Growth is bounded by the distinct k values a user actually
        queries; each is one small JSON beside the artifact and dies
        with it on invalidation."""
        if k == 10:
            return base
        stem, ext = os.path.splitext(base)
        return f"{stem}_k{k}{ext}"

    def _curve(
        self, name: str, mode: str, k: int = 10, n_corpus: int | None = None
    ) -> dict:
        """Measured recall@k-vs-budget curve of ``mode``, a key of
        ``_curve_kinds()``: "probe" (IVF probes), "bq"/"pq"/"sq" (flat
        re-rank shortlists), "lsh" (probe bits), "mtlsh" (bucket budget),
        "graph" (beam width). Built lazily on first use, persisted beside
        its artifact, one sidecar PER REQUESTED k (VERDICT r10 #1: a
        recall@10 curve certifies nothing about recall@25 — a larger k's
        ground truth reaches deeper cells, ranks and buckets).

        One cycle for every curve: read the sidecar, keep it unless
        probetune.curve_is_stale (another calibration version, another
        k, or the collection grown past 2x the calibration size —
        VERDICT r08 #3: fixed-budget recall decays with corpus size,
        drift or no drift), else measure and publish. Rebuilds (writes,
        the drift-triggered retrain) drop the sidecars with their
        artifact directories; ``_drop_lsh_calib`` drops the
        artifact-less lsh curve. ``n_corpus``: the collection's row
        count when the caller already has it."""
        from .io.commitproto import publish_marker
        from .operators.probetune import read_curve_meta

        kind = _curve_kinds()[mode]
        path = os.path.join(kind.root(self, name), kind.fname(k))
        n = self._collection_nrows(name) if n_corpus is None else n_corpus
        read = path
        if kind.legacy is not None and not os.path.exists(path):
            read = kind.legacy(self, name, k) or path
        meta = read_curve_meta(*os.path.split(read))
        if not curve_is_stale(meta, n, k=k):
            return {int(b): float(r) for b, r in meta["curve"].items()}
        curve = kind.measure(self, name, k)
        publish_marker(path, {
            "k": int(k), "calib": CALIB_VERSION, "n_corpus": int(n),
            **kind.extra,
            "curve": {str(b): float(r) for b, r in curve.items()},
        })
        return curve

    def _choose(
        self, name: str, mode: str, k: int, target: float, full: int | None,
        n_corpus: int,
    ) -> int | None:
        """probetune.choose_budget over ``mode``'s curve. A target >= 1
        reads no curve: only ``full`` guarantees an exact answer, so the
        guaranteed-exact configuration never pays a calibration."""
        if target >= 1.0:
            return full
        return choose_budget(
            self._curve(name, mode, k, n_corpus), target, full
        )

    def _measure_probe(self, name: str, k: int) -> dict:
        """Recall-vs-probes of the collection's IVF layout (probetune's
        cell-rank trick, one pass)."""
        from .operators.probetune import probe_recall_curve

        corpus_path, cents = self._ensure_ivf_index(name)
        return probe_recall_curve(
            self.spark, corpus_path, cents, k=k, item_id="id"
        )

    def _measure_shortlist(self, name: str, fam: str, k: int) -> dict:
        """Recall-vs-shortlist of a flat code family: probetune's
        approximate-rank calibration over the PERSISTED code table. The
        tables are whole-corpus (any write invalidates their directory,
        taking the sidecar along), so 2x growth is the only other
        staleness trigger they need."""
        from .operators.probetune import scorer_shortlist_curve

        encoded, scorer = self._flat_codes(name, fam)
        return scorer_shortlist_curve(
            self.get(name), encoded, scorer, k=k, item_id="id"
        )

    def _flat_codes(self, name: str, fam: str):
        """(codes DataFrame, Scorer) of the collection's flat table."""
        codes, p, _, _ = self._ensure_codes(name, fam)
        return (
            self.spark.read.parquet(codes).drop("_qerr"),
            _quantizers()[fam].scorer(p),
        )

    # calibrated survivor-fraction bins for the filtered shortlist curves
    # (VERDICT r09 Missing #1; the 0.03 bin is VERDICT r10 #7). Filters
    # MORE selective than the smallest bin reroute to exact-over-
    # survivors — certain, and cheap exactly where it fires (< 3% of the
    # corpus survives).
    _FILTERED_BINS = (0.03, 0.10, 0.25, 0.50)

    def _ensure_filtered_shortlist_curve(
        self, name: str, fam: str, k: int = 10
    ) -> dict[float, dict[int, float]]:
        """Selectivity-BINNED recall-vs-shortlist curves for a flat code
        family under a metadata filter (VERDICT r09 Missing #1:
        "compressed collection + metadata filter + recall target" used to
        be refused because the unfiltered curve says nothing about the
        deeper global ranks a filtered top-k reaches).

        Each bin measures the probetune approximate-rank calibration with
        BOTH the ground truth and the code ranking restricted to a
        deterministic hash-sample of ids at survivor fraction f in
        _FILTERED_BINS (0.03/0.10/0.25/0.50 — the 0.03 bin is VERDICT
        r10 #7: a ~3% filter used to reroute to exact-over-survivors,
        which at scale still scans millions of survivor rows; now it
        serves a measured shortlist like every other bin and only
        sub-3% filters reroute) — the rank-thinning effect a filter of
        that selectivity has, measured, not modeled. The unfiltered curve
        rides along as the 1.0 bin. Binned by survivor FRACTION on the
        standard predicate-independence assumption every sampled tuner
        makes; a predicate adversarially correlated with the embedding
        geometry is outside calibration scope (the conservative bracket
        in _resolve_filtered_shortlist and the exact-over-survivors
        reroute below the smallest bin bound the damage). One calibration
        pass per bin, persisted beside the code artifact; 2x-growth
        staleness, same as every curve."""
        from .functions.hashing import portable_hash64
        from .io.commitproto import publish_marker
        from .operators.probetune import (
            read_curve_meta,
            scorer_shortlist_curve,
        )

        root = self._qpaths(name, fam)[0]
        fname = self._k_fname("_filtered_shortlist_curve.json", k)
        n = self._collection_nrows(name)
        full = self._curve(name, fam, k, n)
        meta = read_curve_meta(root, fname)
        want_bins = {f"{f:.2f}" for f in self._FILTERED_BINS}
        if not curve_is_stale(meta, n, k=k) and set(
            meta.get("bins", {})
        ) | set(meta.get("skipped_bins", [])) == want_bins:
            # bin-coverage check: a sidecar calibrated before a bin was
            # added (e.g. the 0.03 bin) must recalibrate once, or the
            # new bin would silently keep rerouting to exact. Skipped
            # bins (survivor sample < k+1 rows on a small collection,
            # ADVICE r11) count as covered — they were examined and
            # found unmeasurable, not missed.
            bins = {
                float(f): {int(s): float(r) for s, r in c.items()}
                for f, c in meta["bins"].items()
            }
            bins[1.0] = full
            return bins
        corpus = self.get(name)
        encoded, scorer = self._flat_codes(name, fam)
        bins, skipped = {}, []
        for f in self._FILTERED_BINS:
            thresh = int(f * 1000)
            surv = corpus.filter(
                F.pmod(
                    portable_hash64(F.col("id").cast("string")),
                    F.lit(1000),
                ) < thresh
            )
            # ADVICE r11: on a small collection a low-fraction bin's
            # hash sample can hold < k+1 rows — its ground truth is
            # empty or truncated and the curve builder's degenerate
            # fallback would publish an all-1.0 curve, serving the
            # minimum grid shortlist as 'certified' to any real filter
            # in that bin. SKIP the bin instead (recorded, so the
            # coverage check doesn't recalibrate forever); the resolver
            # treats a missing smallest bin like a sub-bin filter —
            # survivor sets that small reroute to exact.
            if surv.count() < k + 1:
                skipped.append(f)
                continue
            surv_enc = encoded.filter(
                F.pmod(
                    portable_hash64(F.col("item_id").cast("string")),
                    F.lit(1000),
                ) < thresh
            )
            bins[f] = scorer_shortlist_curve(
                surv, surv_enc, scorer, k=k, item_id="id"
            )
        publish_marker(
            os.path.join(root, fname),
            {
                "n_corpus": int(n),
                "k": int(k),
                "calib": CALIB_VERSION,
                "bins": {
                    f"{f:.2f}": {str(s): float(r) for s, r in c.items()}
                    for f, c in bins.items()
                },
                "skipped_bins": [f"{f:.2f}" for f in skipped],
            },
        )
        bins[1.0] = full
        return bins

    def _where_selectivity(self, name: str, where: str) -> float:
        """Measured survivor fraction of a predicate — one pushed-filter
        count over the collection, memoized per (collection, predicate,
        LAYOUT SIGNATURE) so repeated queries of the same filter pay zero
        extra planning jobs. The layout signature (stat-based, ~ms, the
        relcache discipline) — not the row count — keys the memo: a
        pure-replace upsert or a same-size re-create changes the files
        but not the count, and a count-keyed memo would serve the OLD
        selectivity into the filtered recall dial. NULL predicate results
        count as not-matched (the delete()/filter convention everywhere
        in this facade)."""
        from .io.relcache import layout_sig

        n = self._collection_nrows(name)
        key = (name, where)
        sig = layout_sig(self._path(name))
        memo = getattr(self, "_sel_memo", None)
        if memo is None:
            memo = self._sel_memo = {}
        # value = (layout_sig, fraction): a signature change REPLACES the
        # entry instead of accumulating one key per upsert (ADVICE r10 —
        # write churn must not grow the memo without bound), matching the
        # bounded _PLAN_CACHE/_REL_CACHE discipline.
        hit = memo.get(key)
        if hit is None or hit[0] != sig:
            surv = (
                self.get(name)
                .filter(F.coalesce(F.expr(where), F.lit(False)))
                .count()
            )
            memo[key] = (sig, surv / max(n, 1))
        return memo[key][1]

    # Survivor-COUNT budget for the exact-over-survivors reroute
    # (VERDICT r11 #4): below the smallest calibrated bin, "exact is
    # cheap" is only true when the survivor COUNT is small — at 100 TB a
    # 1% filter still has ~1 TB of survivors. The budget is the measured
    # exact-scan crossover on this box (operators/filtered.py
    # EXACT_CROSSOVER_N = 200k, from the round-5 scale-crossover study:
    # below it the full-precision scan beats every compressed path;
    # above it the compressed scan's 4-32x byte advantage wins).
    # Class attribute so tests can dial it per instance.
    FILTERED_EXACT_SURVIVOR_ROWS: int | None = None  # None = crossover

    def _resolve_filtered_shortlist(
        self, name: str, fam: str, k: int, target: float, frac: float
    ) -> int | None:
        """Serving shortlist for a flat family under a filter of survivor
        fraction ``frac``: the conservative BRACKET — the largest of the
        shortlists the two calibrated bins surrounding frac demand for
        the target (floored at k).

        Below the smallest calibrated bin the route depends on the
        survivor COUNT, not the fraction (VERDICT r11 #4): None (the
        caller reroutes to exact-over-survivors — certain AND measured-
        cheap) only when frac x n_corpus is under the exact-scan
        crossover budget; past the budget the sub-bin filter serves an
        EXTRAPOLATED-conservative shortlist from the two smallest
        measured bins instead of scanning every survivor at full
        precision."""
        bins = self._ensure_filtered_shortlist_curve(name, fam, k=k)
        lo = [f for f in bins if f <= frac + 1e-9]
        if not lo:
            return self._extrapolated_filtered_shortlist(
                name, fam, k, target, frac, bins
            )
        hi = [f for f in bins if f >= frac - 1e-9]
        ncoll = self._collection_nrows(name)
        picks = [choose_budget(bins[max(lo)], target, ncoll)]
        if hi:
            picks.append(choose_budget(bins[min(hi)], target, ncoll))
        return max(k, *picks)

    def _extrapolated_filtered_shortlist(
        self,
        name: str,
        fam: str,
        k: int,
        target: float,
        frac: float,
        bins: dict[float, dict[int, float]],
    ) -> int | None:
        """Sub-smallest-bin route (VERDICT r11 #4). None = reroute to
        exact-over-survivors, which is returned when ANY of:

        - the survivor estimate is under the exact-scan crossover budget
          (measured-cheap AND certain — the common small case);
        - fewer than two measured bins exist (nothing to extrapolate
          from: tiny collections whose low bins were sample-skipped);
        - the smallest bin's curve refuses to certify the target inside
          the grid (the honest answer there is the exact scan, as the
          lam=1.5 study documents);
        - the extrapolated shortlist reaches the survivor estimate
          (re-ranking everything IS the exact scan).

        Otherwise: fit the trend of the two smallest measured bins,
        s(f) = s1 * (f1/f)^alpha with alpha >= 0 (demand may only GROW
        below the measured range — the conservative direction), and
        round UP to the next calibrated grid point."""
        import math

        from .operators.filtered import EXACT_CROSSOVER_N
        from .operators.probetune import SHORTLIST_GRID

        n = self._collection_nrows(name)
        budget = self.FILTERED_EXACT_SURVIVOR_ROWS or EXACT_CROSSOVER_N
        survivors = frac * n
        if survivors <= budget:
            return None
        fs = sorted(f for f in bins if f < 1.0 - 1e-9)
        if len(fs) < 2:
            return None
        f1, f2 = fs[0], fs[1]
        s1 = choose_budget(bins[f1], target, n)
        s2 = choose_budget(bins[f2], target, n)
        if s1 >= n:
            return None
        alpha = 0.0
        if s1 > s2:
            alpha = math.log(s1 / s2) / math.log(f2 / f1)
        # Floor at max(s1, s2), not just s1 (ADVICE r12): when the two
        # smallest bins are non-monotonic (s2 > s1, calibration noise),
        # alpha clamps to 0 and an s1-only floor would serve a sub-bin
        # filter LESS shortlist than the in-range bracket rule grants a
        # filter at f2 — anti-conservative exactly where certainty is
        # lowest.
        s = max(
            s1 * (f1 / max(frac, 1e-9)) ** alpha,
            float(s1),
            float(s2),
            float(k),
        )
        s_up = next((g for g in sorted(SHORTLIST_GRID) if g >= s), None)
        if s_up is None or s_up >= survivors:
            return None
        return max(k, s_up)

    def _ensure_composed_budget(
        self, name: str, mode: str, target: float, k: int, n_corpus: int,
    ) -> dict:
        """Measured joint (n_probe, shortlist) for mode in {ivfbq, ivfpq,
        ivfsq} at the given recall target AND requested k — probetune's
        composed calibration over the persisted cell-partitioned codes,
        cached per rounded (target, k) in a sidecar at the IVF root (new
        targets append; the 2x-growth staleness check drops the whole
        table). Keying by k is VERDICT r10 #1: a (n_probe, shortlist)
        pair certified for recall@10 under-delivers at k=25 — the deeper
        ground truth reaches more cells and deeper approximate ranks."""
        from .io.commitproto import publish_marker
        from .operators.probetune import (
            composed_scored,
            composed_serving_budget,
            curve_is_stale,
            read_curve_meta,
        )

        corpus_path, cents = self._ensure_ivf_index(name)
        root = self._ivf_path(name)
        fname = f"_{mode}_serving.json"
        # targets key carries BOTH dials: the rounded recall target and
        # the requested k (bare "0.85" = the historical k=10 contract;
        # CALIB staleness already retires pre-k sidecars)
        key = f"{target:.2f}" if k == 10 else f"{target:.2f}@k{k}"
        meta = read_curve_meta(root, fname)
        stale = curve_is_stale(meta, n_corpus)
        if not stale and key in meta.get("targets", {}):
            return meta["targets"][key]
        probe_curve = self._curve(name, "probe", k, n_corpus)
        fam = mode.removeprefix("ivf")
        codes, p, _, _ = self._ensure_codes(name, fam, ivf=True)
        b = composed_serving_budget(
            self.spark, corpus_path, cents,
            composed_scored(self.spark, codes, _quantizers()[fam].scorer(p)),
            target_recall=target, k=k, item_id="id",
            probe_curve=probe_curve,
        )
        entry = {"n_probe": int(b["n_probe"]), "shortlist": int(b["shortlist"])}
        targets = {} if stale else dict((meta or {}).get("targets", {}))
        targets[key] = entry
        # staleness base: merging a NEW target into a healthy sidecar must
        # not reset the 2x-growth clock for the targets already calibrated
        # at the original corpus size (ADVICE r09) — only a from-stale
        # recalibration re-bases n_corpus
        base_n = (
            int(n_corpus) if stale or not meta
            else int(meta.get("n_corpus", n_corpus))
        )
        publish_marker(
            os.path.join(root, fname),
            {"targets": targets, "n_corpus": base_n, "calib": CALIB_VERSION, "curve": {}},
        )
        return entry

    def _resolve_shortlist(
        self, name: str, fam: str, k: int, shortlist: int | None,
        target: float, n_corpus: int,
    ) -> int:
        """Serving shortlist for a flat code family: the caller's explicit
        value, else the smallest calibrated budget meeting ``target`` —
        DEFAULT_TARGET_RECALL unless a query asks (VERDICT r08 #1: the
        default is measured, not guessed; until round 9 it was the
        max(10k, 100) folklore constant, which measured 0.56-0.68 recall
        at sf0.1) — and the whole corpus at target >= 1 or when no grid
        point meets the target. The curve is calibrated AT the requested
        k (VERDICT r10 #1), so the k floor is a structural guard (a
        re-rank pool never returns < k rows), not the certification."""
        if shortlist is not None:
            return shortlist
        return max(k, self._choose(
            name, fam, k, target, n_corpus, n_corpus
        ))

    def _resolve_composed(
        self, name: str, mode: str, n_probe: int | None,
        shortlist: int | None, k: int, target: float, n_corpus: int,
    ) -> tuple[int, int]:
        """Serving (n_probe, shortlist) for ivfbq/ivfpq/ivfsq: explicit
        values win; anything unspecified comes from the measured joint
        budget at ``target``, calibrated AT the requested k (VERDICT r10
        #1), or, at target >= 1, full probe + full re-rank, which needs
        only the cell COUNT — no calibration pass. The shortlist floors
        at k (ADVICE r09), a structural guard like the flat one."""
        if n_probe is not None and shortlist is not None:
            return n_probe, shortlist
        if target >= 1.0:
            b = {"n_probe": self._ensure_ivf_index(name)[1].count(),
                 "shortlist": n_corpus}
        else:
            b = self._ensure_composed_budget(name, mode, target, k, n_corpus)
        return (
            n_probe if n_probe is not None else b["n_probe"],
            shortlist if shortlist is not None else max(k, b["shortlist"]),
        )

    def _target_budget(
        self, name: str, mode: str, k: int, where: str | None, target: float,
        n_corpus: int,
    ) -> tuple[str, object]:
        """``target_recall=`` resolved once, before any serve work:
        (served mode, budget) under probetune.choose_budget — the
        smallest measured budget meeting the target, else the budget that
        guarantees an exact answer, else (mtlsh, graph: no finite budget
        of theirs is exact) a reroute to the exact scan. The budget is
        (n_probe, shortlist) for the compressed modes, the probe floor
        for "auto", and probe bits / bucket budget / beam width for
        lsh / mtlsh / graph.

        With ``where=``, flat bq/pq/sq serve the shortlist of the
        selectivity-binned filtered curve (VERDICT r09 Missing #1), or
        exact over survivors at target >= 1 and below its smallest bin;
        the auto-routable modes re-plan to the EP8 chooser with the
        unfiltered probe curve's budget as its probe FLOOR, max'd with the
        chooser's selectivity widening (ADVICE r08: never silently drop
        the paid-for curve). Target >= 1 floors at every cell, which the
        chooser always serves as exact over survivors."""
        if where is not None and mode in _QUANT_FAMILIES:
            s = None
            if target < 1.0:
                s = self._resolve_filtered_shortlist(
                    name, mode, k, target, self._where_selectivity(name, where)
                )
            return ("exact", None) if s is None else (mode, (None, s))
        if where is not None and mode in ("auto", *_FULL_BUDGET, *_COMPOSED):
            if target >= 1.0:
                return "auto", self._ensure_ivf_index(name)[1].count()
            curve = self._curve(name, "probe", k, n_corpus)
            return "auto", choose_budget(curve, target, max(curve))
        if mode in _COMPOSED:
            return mode, self._resolve_composed(
                name, mode, None, None, k, target, n_corpus
            )
        if mode in _QUANT_FAMILIES:
            return mode, (None, self._resolve_shortlist(
                name, mode, k, None, target, n_corpus
            ))
        if mode in _FULL_BUDGET:
            b = self._choose(
                name, mode, k, target, _FULL_BUDGET[mode], n_corpus
            )
            return ("exact", None) if b is None else (mode, b)
        raise ValueError(
            f"target_recall= does not apply to mode={mode!r}"
            + (" with where= — it applies to the filtered-chooser modes "
               "(auto, or graph/mtlsh/lsh/ivf* which re-plan to it) and "
               "bq/pq/sq (filtered shortlist curve)" if where is not None else
               " — exact scans and rank-fusion modes have no recall dial")
        )

    def drift_status(self, name: str) -> dict:
        """Quantizer-drift status (EP13) of EVERY frozen quantizer the
        collection serves from (VERDICT r08 #2, + the ivfsq twin): the
        top-level keys are
        the coarse IVF quantizer's status (back-compat — the trigger that
        fires first in practice, since every composed family routes
        through it), and ``"families"`` maps each of the six quantized
        families to its own {"train_mean_qerr", "upsert_mean_qerr",
        "ratio", "retrain_recommended", ...} — ivf (coarse assignment
        error), ivfbq/ivfpq (fine reconstruction error of the
        cell-partitioned code twins), bq/pq/sq (reconstruction error of
        the flat code tables, accumulated by the O(batch) append encode).
        A family with no built artifact or no baseline reports {}. Past
        any family's trigger, call :meth:`retrain_quantizers`."""
        from .operators.drift import drift_status

        ivf_root = self._ivf_path(name)
        st = dict(drift_status(ivf_root))
        st["families"] = {"ivf": drift_status(ivf_root)}
        for fam in _QUANT_FAMILIES:
            for ivf in (True, False):
                st["families"][f"ivf{fam}" if ivf else fam] = drift_status(
                    self._qpaths(name, fam, ivf)[4]
                )
        return st

    def retrain_quantizers(self, name: str, families=None) -> None:
        """The offline rebuild the drift trigger recommends: drop the
        drifted quantizer artifacts so the next query retrains on the
        CURRENT corpus and writes a fresh baseline — restoring ratio ≈ 1
        and the recall the drift eroded (pinned in tests/test_drift.py).

        ``families``: iterable of {"ivf", "bq", "pq", "sq"} (the
        composed ivfbq/ivfpq twins live under the IVF root and ride
        "ivf"); default None retrains all of them. Calibration curves
        live inside the dropped directories, so budgets re-measure with
        the fresh quantizers."""
        fams = set(families) if families is not None else {"ivf", "bq", "pq", "sq"}
        dirs = tuple(
            d for f, d in (
                ("ivf", ".ivf_index"), ("bq", ".bq_index"),
                ("pq", ".pq_index"), ("sq", ".sq_index"),
            ) if f in fams
        )
        self._invalidate_indexes(name, dirs=dirs)

    def _measure_lsh_bits(self, name: str, k: int) -> dict:
        """Recall-vs-probe-bits of mode="lsh" (VERDICT r08 #4): a
        ground-truth neighbor is reachable at probe depth b iff its
        signature differs from the query's in <= b bits, so the whole
        curve is ONE signature pass + a Hamming histogram — the cell-rank
        trick with buckets in place of cells — over lsh_ann's own
        geometry. b = n_planes probes every bucket, so target_recall >= 1
        is GUARANTEED exact (the whole corpus becomes the candidate
        set)."""
        from .operators.ann import LSH_N_PLANES, LSH_SEED
        from .operators.probetune import lsh_bits_recall_curve

        return lsh_bits_recall_curve(
            self.get(name).select("id", "embedding"), dim=self.dim,
            n_planes=LSH_N_PLANES, seed=LSH_SEED, k=k, item_id="id",
        )

    def _measure_mtlsh_budget(self, name: str, k: int) -> dict:
        """Recall-vs-probe-budget of mode="mtlsh": the EP3 budget-curve
        harness (operators/mtlsh.py::mt_lsh_budget_curve — candidate
        coverage of the exact ground truth, signatures computed once)
        over a geometric budget grid. The flip pool does NOT enumerate
        every bucket, so no finite budget guarantees exactness —
        target_recall >= 1 reroutes to the exact scan."""
        from .operators.mtlsh import mt_lsh_budget_curve, read_mt_lsh_meta
        from .operators.probetune import calib_ground_truth

        im = read_mt_lsh_meta(self._mtlsh_path(name))
        L, planes = im["n_tables"], im["n_planes"]
        budgets = sorted({
            min(m * L, L * (1 << planes)) for m in (1, 2, 4, 8, 16, 32)
        })
        corpus = self.get(name).select("id", "embedding")
        # self-pair-free gt AT the requested k: budgets must clear
        # FRESH-query recall@k (VERDICT r10 #1)
        qs, gt = calib_ground_truth(corpus, k=k, item_id="id")
        rows = mt_lsh_budget_curve(
            qs, corpus, gt, budgets, k=k,
            n_planes=planes, n_tables=L, dim=im["dim"], seed=im["seed"],
            item_id="id",
        ).collect()
        return {int(r.budget): float(r.mean_recall) for r in rows}

    def _graph_calib_root(self, name: str) -> str:
        """The graph index, with the deferred-write buffer folded in:
        calibration measures the INDEX, and buffered rows are part of the
        ground truth (collection rows) but not of the beam search — so
        the curve prices the real index."""
        idx = self._ensure_graph_index(name)
        self._fold_graph_pending(name)
        return idx

    def _measure_graph_ef(self, name: str, k: int) -> dict:
        """Recall-vs-beam-width of mode="graph" over the PERSISTED
        degree-capped NSW index (one beam pass per grid point — beam
        recall has no closed-form rank trick). The degree cap can drop a
        node's last inbound edge, so no finite beam guarantees exactness
        on this index — target_recall >= 1 reroutes to the exact scan
        (graph_ann_fullbeam's provable config needs an uncapped
        rebuild)."""
        from .operators.graphann import graph_ann_pruned
        from .operators.probetune import calib_ground_truth

        idx = self._graph_path(name)
        corpus = self.get(name).select("id", "embedding")
        # self-pair-free gt AT the requested k (VERDICT r10 #1)
        qs, gt = calib_ground_truth(corpus, k=k, item_id="id")
        gt = gt.select("query_id", "item_id")
        total = gt.count() or 1
        qsd = qs.select(
            "query_id", F.col("query_vec").cast("array<double>").alias("query_vec")
        )
        curve = {}
        for ef in (48, 96, 192, 384):
            # CALIB v3 (ADVICE r10): queries are corpus members, so the
            # beam's rank-1 result is always the self hit — left in, it
            # consumes one of the k result slots and caps the measurable
            # recall at (k-1)/k, making curve[ef] >= 1.0 unreachable and
            # any target in (0.9, 1.0) reroute to exact even when the
            # index certifies it for fresh queries. Fetch k+1, drop the
            # self row, keep the top k survivors — the result set a
            # fresh query would see.
            res = graph_ann_pruned(
                qsd, self.spark, idx, k=k + 1, ef_search=ef
            )
            fresh = (
                res.filter(F.col("item_id") != F.col("query_id"))
                .withColumn(
                    "_rn",
                    F.row_number().over(
                        Window.partitionBy("query_id").orderBy("rank")
                    ),
                )
                .filter(F.col("_rn") <= k)
            )
            hits = fresh.select("query_id", "item_id").join(
                gt, ["query_id", "item_id"]
            ).count()
            curve[ef] = round(hits / total, 4)
            if curve[ef] >= 1.0:
                break
        return curve

    # -- multiprobe multi-table LSH index (per-collection) -----------------
    def _mtlsh_path(self, name: str) -> str:
        return os.path.join(self.root, ".mtlsh_index", name)

    def _mtlsh_is_incremental(self, name: str) -> bool:
        """True iff the collection's mt-LSH artifact carries the
        incremental bookkeeping (n_corpus sizing base + gen counter in
        the meta sidecar) — the frozen-plane append contract. False for
        missing artifacts, pre-contract metas, and torn/unreadable
        sidecars alike (ONE exception contract for every caller: writes
        then invalidate, optimize skips, and the next read rebuilds
        lazily — never a decode crash on a maintenance path)."""
        from .operators.mtlsh import read_mt_lsh_meta

        try:
            meta = read_mt_lsh_meta(self._mtlsh_path(name))
        except (OSError, ValueError):
            return False
        return "n_corpus" in meta and "gen" in meta

    def _ensure_mtlsh_index(self, name: str) -> str:
        """Table-partitioned signature index (operators/mtlsh.py). Built
        lazily; add()/upsert() keep it fresh with an O(batch) frozen-plane
        signature append (mt_lsh_signatures_upsert in _freshen_indexes —
        the plane matrix is corpus-independent, VERDICT r09 #1). The one
        corpus-DERIVED build input is the _auto_planes plane count, so the
        2x-growth staleness rule applies to the artifact itself (the
        curve_is_stale discipline): once the collection doubles past the
        build size, buckets run ~2x over their occupancy design point —
        rebuild re-derives the plane count. Pre-contract artifacts (no
        ``n_corpus``/``gen`` bookkeeping) also rebuild."""
        from .operators.mtlsh import (
            heal_mt_lsh_index,
            read_mt_lsh_meta,
            write_mt_lsh_index,
        )

        path = self._mtlsh_path(name)
        if os.path.exists(os.path.join(path, "_mtlsh_meta.json")):
            meta = read_mt_lsh_meta(path)
            if "n_corpus" not in meta or self._collection_nrows(
                name
            ) >= 2 * max(int(meta["n_corpus"]), 1):
                self._invalidate_indexes(name, dirs=(".mtlsh_index",))
            else:
                # roll back any table dir a crashed compaction left
                # mid-swap (three stats per table when healthy)
                heal_mt_lsh_index(path)
        if not os.path.exists(os.path.join(path, "_mtlsh_meta.json")):
            write_mt_lsh_index(
                self.get(name).select("id", "embedding"), path,
                dim=self.dim, item_id="id",
            )
        return path

    # -- lexical postings artifact (per-collection, hybrid channel) --------
    def _postings_path(self, name: str) -> str:
        return os.path.join(self.root, ".postings_index", name)

    def _ensure_postings(self, name: str) -> str:
        """Materialized inverted index over the collection's text
        (operators/postings.py) so mode="hybrid" scores BM25 from a
        bucket-pruned scan instead of tokenizing the collection per query.
        add()/upsert() keep it fresh via postings_upsert."""
        from .operators.postings import write_postings_index

        path = self._postings_path(name)
        if not os.path.exists(os.path.join(path, "_META.json")):
            write_postings_index(
                self.get(name).select("id", "text"), path, id_col="id"
            )
        return path

    # -- near-dup cluster index (per-collection corpus hygiene) ------------
    def _dedup_path(self, name: str) -> str:
        return os.path.join(self.root, ".dedup_index", name)

    def _ensure_dedup_index(self, name: str) -> str:
        """MinHash signature index + incrementally maintained cluster
        table over the collection's text (streaming/dedup_maintenance.py +
        operators/dedup_clusters.py). First call mines the whole
        collection as ingest batch 0; add() folds each appended batch
        forward (new-vs-index pair mining + cluster merge, O(batch));
        upsert()/delete() invalidate — replacement can SPLIT a cluster,
        and incremental CC only merges."""
        from .streaming.dedup_maintenance import dedup_index_upsert

        path = self._dedup_path(name)
        if not os.path.exists(os.path.join(path, "bands")):
            docs = self.get(name)
            if "text" not in docs.columns:
                raise ValueError(
                    f"near_duplicates({name!r}): collection has no 'text' "
                    "column to fingerprint"
                )
            dedup_index_upsert(
                self.spark, path, docs.select("id", "text"), 0,
                id_col="id", text_col="text", maintain_clusters=True,
            )
        return path

    def near_duplicates(self, name: str) -> DataFrame:
        """(id, cluster_id, is_canonical) near-dup clusters of the
        collection's text — ChromaDB has no corpus-hygiene surface; this
        is the training-pipeline extension served from a maintained
        artifact, so repeated calls (and calls after add()) never re-mine
        the corpus. Docs in no cluster (the vast majority) are absent;
        cluster_id is the cluster's minimum id, is_canonical=1 marks the
        keeper under the keep-min-id policy."""
        from .operators.dedup_clusters import serve_clusters

        self._heal_torn_freshen(name)
        root = self._ensure_dedup_index(name)
        inc = os.path.join(root, "clusters_inc")
        if not os.path.exists(os.path.join(inc, "nodes")):
            return local_df(
                self.spark, [], "id string, cluster_id string, is_canonical int"
            )
        return serve_clusters(self.spark, inc).select(
            F.col("doc_id").alias("id"), "cluster_id", "is_canonical"
        )

    # -- graph index (V3, per-collection HNSW analogue) --------------------
    def _graph_path(self, name: str) -> str:
        # dot-prefixed root: invisible to list_collections, invalid as a
        # collection name, so it can never clash with user data
        return os.path.join(self.root, ".graph_index", name)

    def _graph_pending_path(self, name: str) -> str:
        # a SIBLING root, not a subdirectory of the graph index: Spark's
        # file index skips underscore/dot-prefixed paths even when read
        # directly, and a plain-named subdirectory would be scanned as
        # shard data by read_layout on the index dir. Registered in
        # _INDEX_DIRS so every invalidation sweeps it with the index.
        return os.path.join(self.root, ".graph_pending", name)

    def _graph_pending_files(self, name: str) -> int:
        try:
            return sum(
                1
                for f in os.listdir(self._graph_pending_path(name))
                if f.endswith(".parquet")
            )
        except OSError:
            return 0

    def _fold_graph_pending(
        self, name: str, batch: DataFrame | None = None
    ) -> None:
        """Absorb the deferred-write side buffer (and optionally a fresh
        batch) into the sharded graph index in ONE upsert, then drop the
        buffer. Batch ids win over buffered rows of the same id (the
        buffer is strictly older), mirroring graph_index_upsert's own
        replace semantics."""
        import shutil

        from .operators.graphann import graph_index_upsert

        pending = self._graph_pending_path(name)
        rows = batch
        if self._graph_pending_files(name):
            pend = self.spark.read.parquet(pending)
            if rows is not None:
                pend = pend.join(rows.select("id"), "id", "left_anti")
            # break lineage to the buffer files before they're deleted
            pend = pend.localCheckpoint(eager=True)
            rows = pend if rows is None else rows.unionByName(pend)
        if rows is not None:
            graph_index_upsert(
                self.spark, self._graph_path(name), rows, item_id="id"
            )
        shutil.rmtree(pending, ignore_errors=True)

    def _merge_graph_pending(
        self, name: str, qdf: DataFrame, res: DataFrame, k: int
    ) -> DataFrame:
        """Serve-time union of graph-index results with an exact scan of
        the deferred-write buffer (batch-sized, so the scan is cheap).
        Dedups by (query_id, item_id) min-dist so a crash that left a
        folded row in the buffer can't double-report it."""
        if not self._graph_pending_files(name):
            return res
        from .operators.knn import exact_knn

        pend = self.spark.read.parquet(self._graph_pending_path(name))
        fresh = exact_knn(qdf, pend, k=k, item_id="id").select(
            "query_id", "item_id", "dist"
        )
        merged = (
            res.select("query_id", "item_id", "dist")
            .unionByName(fresh)
            .groupBy("query_id", "item_id")
            .agg(F.min("dist").alias("dist"))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.asc("dist"), F.asc("item_id")
        )
        return (
            merged.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "item_id", "dist")
        )

    def _ensure_graph_index(self, name: str) -> str:
        path = self._graph_path(name)
        if not os.path.exists(path):
            from .operators.graphann import build_graph_index, write_graph_index

            write_graph_index(
                build_graph_index(
                    self.get(name).select("id", "embedding"), item_id="id"
                ),
                path,
            )
        return path

    # -- search (V2/V3/V6) -------------------------------------------------
    def query(
        self,
        name: str,
        query_texts: list[str] | None = None,
        query_vecs: list[list[float]] | None = None,
        k: int = 10,
        mode: str = "exact",
        where: str | None = None,
        mmr_lambda: float = 0.5,
        auto_opts: dict | None = None,
        shortlist: int | None = None,
        n_probe: int | None = None,
        target_recall: float | None = None,
    ) -> DataFrame:
        """Top-k search. Returns (query_id, rank, item_id, dist); query_id
        is the position in the input list.

        ``where`` is the ChromaDB-style metadata filter (a SQL predicate
        string over the collection's columns) with PRE-filter semantics:
        the predicate restricts the corpus before ranking, so exactly k
        results come from the eligible set. exact/blas/lsh push it into
        the corpus scan; bq/pq/sq semi-join the survivor set into their
        persisted code scans (short-list selection over ELIGIBLE rows
        only, exact re-rank over the filtered corpus — no per-query
        quantizer re-train/re-encode); the graph/mtlsh/ivfbq indexes carry no
        usable metadata pre-filter, so where+those re-plans to
        ``mode="auto"`` — the measured EP8 chooser (operators/filtered.py)
        that picks exact-over-survivors or selectivity-widened IVF
        pre-filter, never recall-losing fixed probes and never
        row-dropping post-filter.

        ``mode="auto"`` (requires ``where``) invokes that chooser
        directly against the collection's lazily-built IVF layout;
        ``auto_opts`` overrides its measured constants
        (exact_crossover_n / widen_factor / prune_win_frac — see
        operators/filtered.py).

        ``mode="mtlsh"`` / ``mode="ivfbq"`` are the scale-star index
        paths (EP3/EP5): multiprobe multi-table LSH over a
        table-partitioned signature index, and coarse-quantized packed
        binary codes (FAISS IndexBinaryIVF shape) with exact re-rank.
        Both build their per-collection artifact on first use; add()/
        upsert() keep IVF-BQ fresh cell-incrementally and append the
        batch's frozen-plane signatures per mt-LSH table partition
        (O(batch) — operators/mtlsh.py::mt_lsh_signatures_upsert;
        ``optimize()`` compacts superseded gens and restores bucket
        order, and 2x corpus growth re-derives the plane count).

        ``mode="pq"`` / ``mode="sq"`` are the flat compressed-scan paths
        (ADC over 8x16 product-quantizer codes / int8 scalar-quantizer
        codes, exact re-rank of the short-list); ``mode="ivfpq"`` /
        ``mode="ivfsq"`` are the FAISS IVFPQ / IVFScalarQuantizer
        compositions (coarse directory pruning x compressed scan inside
        probed cells). All serve from persisted per-collection code
        tables: flat pq/sq codes are whole-corpus artifacts (writes
        invalidate, rebuild lazy — the bq discipline); ivfpq codes ride
        the IVF layout and add()/upsert() re-encode only the touched
        cells. ``shortlist=`` / ``n_probe=`` override the serving
        defaults (shortlist >= corpus and n_probe = n_cells degenerate to
        exact — the oracled identity). Unspecified budgets are MEASURED,
        not guessed (VERDICT r08 #1): each family lazily calibrates a
        recall-vs-budget curve against the exact-kNN oracle
        (operators/probetune.py) and serves at the smallest budget whose
        measured recall clears DEFAULT_TARGET_RECALL; curves persist
        beside the artifacts and recalibrate once the collection more
        than doubles (size-aware staleness) or the drift-triggered
        rebuild drops them.

        ``target_recall=`` turns that dial per query on EVERY
        approximate family: ivfbq/ivfpq resolve (n_probe, shortlist)
        from the joint composed curve, bq/pq/sq resolve shortlist from
        the approximate-rank curve, lsh resolves probe bits from the
        signature-Hamming curve, mtlsh resolves its bucket budget from
        the EP3 coverage curve, and graph resolves beam width from a
        measured ef sweep. target_recall=1.0 serves a GUARANTEED-exact
        configuration: full probe + full re-rank where the structure
        proves it (ivf*/bq/pq/sq; lsh probes all buckets at b=n_planes),
        and a reroute to the exact scan for mtlsh/graph (their index
        structures cannot certify 1.0 — the flip pool does not
        enumerate every bucket; the degree cap can orphan a node).
        Incompatible with explicit budgets. With ``where=`` the target
        routes through the filtered chooser as a probe FLOOR from the
        measured curve (max'd with the selectivity widening; target 1.0
        ⇒ exact-over-survivors) for the auto-routable modes
        (auto/graph/mtlsh/lsh/ivf* — lsh's unfiltered bits-curve says
        nothing about survivor-restricted buckets, so the chooser serves
        the target instead), and through the selectivity-binned filtered
        shortlist curve for flat bq/pq/sq.

        ``mode="mmr"`` adds diversity: exact-cosine 4k-shortlist, then
        greedy MMR selection at ``mmr_lambda`` (operators/rerank.py);
        returns (query_id, rank, item_id, mmr_score).

        ``mode="hybrid"`` (query_texts only) fuses the BM25 lexical
        channel over the collection's text with the dense cosine channel
        by reciprocal-rank fusion (operators/bm25.py), the
        Weaviate/Qdrant-style hybrid search; returns (query_id, rank,
        item_id, rrf). Both filtered and unfiltered hybrid serve BM25
        from the collection's materialized postings artifact
        (bucket-pruned scan, bit-identical scores); where+hybrid
        semi-joins the survivor set into the pruned postings read and
        recomputes df/n_docs/avgdl over the eligible set — no
        corpus-text scan on any hybrid path."""
        if (query_texts is None) == (query_vecs is None):
            raise ValueError("provide exactly one of query_texts / query_vecs")
        # read-side crash heal FIRST (ADVICE r09): resolving a target can
        # calibrate a curve, and calibrating against torn artifacts then
        # healing would discard the curve this query's budget came from
        self._heal_torn_freshen(name)
        budget = None  # a resolved target's lsh bits / mtlsh buckets / ef
        # the collection's row count, read once per query: the curves'
        # staleness check, the full budgets and the re-rank broadcast gate
        n_corpus = None
        if target_recall is not None:
            if n_probe is not None or shortlist is not None:
                raise ValueError(
                    "give target_recall= OR explicit n_probe=/shortlist= "
                    "budgets, not both"
                )
            n_corpus = self._collection_nrows(name)
            mode, budget = self._target_budget(
                name, mode, k, where, target_recall, n_corpus
            )
            if mode == "auto":
                auto_opts = dict(auto_opts or {}, min_probe=budget)
            elif mode in (*_QUANT_FAMILIES, *_COMPOSED):
                n_probe, shortlist = budget
        if query_texts is not None:
            qdf = local_df(
                self.spark,
                list(enumerate(query_texts)),
                "query_id bigint, text string",
            )
            qdf = embed_documents(
                qdf, text_col="text", dim=self.dim, model_path=self.model_path
            ).select("query_id", F.col("embedding").alias("query_vec"))
        else:
            qdf = local_df(
                self.spark,
                [(i, [float(x) for x in v]) for i, v in enumerate(query_vecs)],
                "query_id bigint, query_vec array<float>",
            )
        corpus = self.get(name)
        if where is not None:
            if mode in ("graph", "mtlsh", "ivfbq", "ivfpq", "ivfsq"):
                # these indexes carry no metadata pre-filter; route through
                # the measured chooser instead of post-filtering a
                # traversal to fewer than k rows (see docstring)
                mode = "auto"
            if mode != "auto":
                corpus = corpus.filter(where)
        if mode == "auto":
            if where is None:
                raise ValueError(
                    "mode='auto' is the filtered-search chooser — provide "
                    "where= (unfiltered search: pick exact/graph/ivfbq/...)"
                )
            from .operators.filtered import filtered_knn_auto

            corpus_path, cents = self._ensure_ivf_index(name)
            return filtered_knn_auto(
                qdf, self.spark, corpus_path, cents, predicate=where,
                k=k, item_id="id", **(auto_opts or {}),
            )
        if mode == "hybrid":
            if query_texts is None:
                raise ValueError("hybrid mode needs query_texts")
            from .operators.bm25 import bm25_topk_indexed, rrf_fuse

            qt = local_df(
                self.spark,
                [
                    (qid, t)
                    for qid, text in enumerate(query_texts)
                    for t in dict.fromkeys(text.lower().split())
                ],
                "query_id bigint, term string",
            )
            if where is None:
                # serving shape: per-collection postings artifact — the
                # lexical channel reads O(query terms x posting length)
                # rows, never the collection's text (kept fresh by add/
                # upsert via postings_upsert; scores bit-identical to the
                # inline path — operators/postings.py contract)
                lex_scored = bm25_topk_indexed(
                    self.spark, self._ensure_postings(name), qt, k=5 * k
                )
            else:
                # filtered hybrid serves from the SAME artifact: the
                # survivor set (predicate over metadata columns — a
                # column-pruned scan, no text) semi-joins into the pruned
                # postings read, and df/n_docs/avgdl recompute over the
                # eligible set, so scores equal the inline
                # tokenize-the-filtered-corpus path to the bit
                # (operators/bm25.py::bm25_scores_indexed_filtered)
                from .operators.bm25 import bm25_topk_indexed_filtered

                survivors = corpus.select(F.col("id").alias("doc_id"))
                lex_scored = bm25_topk_indexed_filtered(
                    self.spark, self._ensure_postings(name), qt, survivors,
                    k=5 * k,
                )
            lex = lex_scored.select(
                "query_id", F.col("doc_id").alias("item_id"), "rank"
            )
            den = exact_knn(
                qdf, corpus, k=5 * k, metric="cosine",
                item_id="id", item_vec="embedding",
            ).select("query_id", "item_id", "rank")
            return rrf_fuse(lex, den, k=k, id_col="item_id")
        if mode == "mmr":
            from .operators.rerank import mmr_rerank

            cand = exact_knn(
                qdf, corpus, k=4 * k, metric="cosine",
                item_id="id", item_vec="embedding",
            ).select("query_id", "item_id")
            return mmr_rerank(
                cand,
                corpus.select(F.col("id").alias("item_id"), "embedding"),
                qdf, k=k, lam=mmr_lambda,
            ).select(
                "query_id", F.col("mmr_rank").alias("rank"),
                "item_id", "mmr_score",
            )
        if mode == "exact":
            return exact_knn(qdf, corpus, k=k, item_id="id", item_vec="embedding")
        if mode == "blas":
            from .operators.simjoin import cosine_knn_join

            return cosine_knn_join(
                qdf, corpus, k=k, item_id="id", item_vec="embedding", metric="l2"
            )
        if mode == "lsh":
            from .operators.ann import lsh_ann

            return lsh_ann(
                qdf, corpus, k=k, dim=self.dim,
                n_probe_bits=3 if budget is None else budget,
                item_id="id", item_vec="embedding",
            )
        if mode == "graph":
            from .operators.graphann import graph_ann_pruned

            # builds the collection's NSW index on first use; add() keeps
            # it fresh incrementally (graph_index_upsert), and deferred
            # adds land in a side buffer the merge below exact-scans
            path = self._ensure_graph_index(name)
            qd = qdf.select(
                "query_id",
                F.col("query_vec").cast("array<double>").alias("query_vec"),
            )
            res = graph_ann_pruned(
                qd, self.spark, path, k=k,
                **({} if budget is None else {"ef_search": budget}),
            )
            return self._merge_graph_pending(name, qd, res, k)
        if mode in ("bq", "pq", "sq", "ivfbq", "ivfpq", "ivfsq"):
            if n_corpus is None:
                n_corpus = self._collection_nrows(name)
            return self._quantized_query(
                name, qdf, corpus, mode, k, shortlist, n_probe, where,
                n_corpus,
            )
        if mode == "mtlsh":
            from .operators.mtlsh import mt_lsh_ann_pruned

            path = self._ensure_mtlsh_index(name)
            return mt_lsh_ann_pruned(
                qdf, self.spark, path,
                corpus.select("id", "embedding"),
                k=k, n_probe_buckets=budget, item_id="id",
            )
        raise ValueError(
            f"unknown mode {mode!r}; one of "
            "exact/blas/lsh/graph/bq/pq/sq/mtlsh/ivfbq/ivfpq/ivfsq/auto/"
            "mmr/hybrid"
        )

    def _quantized_query(
        self, name: str, qdf: DataFrame, corpus: DataFrame, mode: str,
        k: int, shortlist: int | None, n_probe: int | None,
        where: str | None, n_corpus: int,
    ) -> DataFrame:
        """The six compressed modes: one family scorer on the shared
        shortlist → exact-rerank skeleton (operators/quantized.py), always
        given the collection row count for the re-rank broadcast gate.

        Flat modes serve from the PERSISTED full-collection code table. A
        ``where=`` restricts the CODE scan to the survivor set (semi-join
        BEFORE short-list selection — the short-list is the top-N
        ELIGIBLE rows by approximate distance, never a post-filter), and
        the exact re-rank runs over the filtered ``corpus``, so strict
        pre-filter semantics hold. Quantizer params are approximation
        machinery, not result semantics — re-training them per filtered
        query was a corpus-sized job in the serve path; shortlist >=
        survivors stays exactly the filtered exact kNN. Composed modes
        never see ``where=`` (query() re-plans it to mode="auto")."""
        from .operators.quantized import ivf_shortlist_search, shortlist_search

        fam = mode.removeprefix("ivf")
        codes, p, corpus_path, cents = self._ensure_codes(
            name, fam, ivf=fam != mode
        )
        scorer = _quantizers()[fam].scorer(p)
        if fam != mode:
            n_probe, shortlist = self._resolve_composed(
                name, mode, n_probe, shortlist, k, DEFAULT_TARGET_RECALL,
                n_corpus,
            )
            # the bq scorer's hamming column stays internal: query()
            # returns the four documented columns on every mode
            return ivf_shortlist_search(
                qdf, self.spark, codes, corpus_path, cents, scorer, k=k,
                n_probe=n_probe, shortlist=shortlist, item_id="id",
                n_corpus=n_corpus,
            ).select("query_id", "rank", "item_id", "dist")
        encoded = self.spark.read.parquet(codes).drop("_qerr")
        if where is not None:
            encoded = encoded.join(
                corpus.select(F.col("id").alias("item_id")),
                "item_id", "left_semi",
            )
        return shortlist_search(
            qdf, encoded, corpus, scorer, k,
            self._resolve_shortlist(
                name, fam, k, shortlist, DEFAULT_TARGET_RECALL, n_corpus
            ),
            item_id="id", n_corpus=n_corpus,
        ).select("query_id", "rank", "item_id", "dist")


class _CurveKind(NamedTuple):
    """One calibrated budget knob in ``VectorStore._curve``'s lifecycle.

    - ``root(vs, name)`` is the sidecar directory; resolving it builds the
      index the curve prices (mtlsh; graph also folds its write buffer) —
      the IVF layout and the flat code tables build when measured;
    - ``fname(k)`` is the sidecar's file name at requested k;
    - ``measure(vs, name, k)`` calibrates a fresh curve;
    - ``extra`` fields ride in the sidecar beside k, calib, n_corpus and
      the curve;
    - ``legacy(vs, name, k)``: an older sidecar path read when the
      current one is absent, or None.
    """

    root: Callable
    fname: Callable
    measure: Callable
    extra: dict = {}
    legacy: Callable | None = None


@functools.cache
def _curve_kinds() -> dict[str, _CurveKind]:
    from .operators.probetune import (
        CURVE_FILE,
        DEFAULT_N_SAMPLE,
        SHORTLIST_FILE,
    )

    def k_keyed(base: str) -> Callable:
        return functools.partial(VectorStore._k_fname, base)

    sampled = {"n_sample": DEFAULT_N_SAMPLE}
    flat = {
        fam: _CurveKind(
            lambda vs, name, fam=fam: vs._qpaths(name, fam)[0],
            k_keyed(SHORTLIST_FILE),
            lambda vs, name, k, fam=fam: vs._measure_shortlist(name, fam, k),
            sampled,
        )
        for fam in _QUANT_FAMILIES
    }
    return {
        "probe": _CurveKind(
            VectorStore._ivf_path, k_keyed(CURVE_FILE),
            VectorStore._measure_probe, sampled,
        ),
        **flat,
        "lsh": _CurveKind(
            lambda vs, name: os.path.join(vs.root, ".lsh_calib", name),
            lambda k: f"k{int(k)}.json",
            VectorStore._measure_lsh_bits,
            {"n_planes": LSH_N_PLANES},
            # the pre-r12 flat layout's bare ``<name>.json`` is
            # unambiguously this collection's k=10 curve — honored, so
            # the layout change recalibrates nothing; k-suffixed legacy
            # names are ambiguous with sibling collections' and are not
            legacy=lambda vs, name, k: (
                os.path.join(vs.root, ".lsh_calib", name + ".json")
                if k == 10 else None
            ),
        ),
        "mtlsh": _CurveKind(
            VectorStore._ensure_mtlsh_index, k_keyed("_budget_curve.json"),
            VectorStore._measure_mtlsh_budget,
        ),
        "graph": _CurveKind(
            VectorStore._graph_calib_root, k_keyed("_ef_curve.json"),
            VectorStore._measure_graph_ef,
        ),
    }
