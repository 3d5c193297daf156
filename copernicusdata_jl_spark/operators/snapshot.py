"""☆ Atomic snapshot table on plain parquet — the commit protocol the
lineage checkpoint needs (SURVEY.md §2.10 O8; BASELINE.json's "Iceberg
checkpoint table ... resumes idempotently").

Iceberg's essential guarantee for a checkpoint table is: readers see a
COMMITTED snapshot or the previous one, never a torn write, and two
concurrent committers can't both win the same version. That protocol —
not the jar — is what resume correctness depends on, so it's implemented
here directly over parquet:

- data files land under ``<path>/data/<commit-uuid>/`` (invisible to
  readers until published — readers never list the data directory);
- a manifest ``<path>/_manifests/v<N>.json`` names every data file in
  snapshot N (parent snapshot's files + this commit's, append semantics);
- the manifest is published by writing a temp file, fsyncing, then
  ``os.link``-ing it to its final name — on POSIX an atomic
  create-if-absent, so a torn manifest is impossible and a version
  collision raises for one of two racing committers, which retries at
  N+1 (optimistic concurrency, exactly Iceberg's loop).

On an object store, step 3 becomes the catalog's conditional PUT /
compare-and-swap (what iceberg-spark-runtime does against a Hive/REST
catalog; plain S3 has no atomic link) — the manifest format and retry
loop are unchanged; only the publish primitive is injected
(``publish=`` parameter). The container has no Iceberg jar (COVERAGE.md),
so the local primitive is the tested one.

Scale notes: a manifest holds file PATHS plus per-file min/max column
stats (KBs per thousand commits); reads load exactly the listed files —
no directory listing, no eventual-consistency window — and a predicate
passed to ``read(where=...)`` skips whole files whose stat range cannot
match (Iceberg's manifest-level pruning; see ``files_for``). Stats come
from the parquet footers the commit just wrote (a metadata-only read,
O(files), never a data scan — the same place Iceberg's writers collect
them). Orphaned data from crashed commits is invisible and GC-able by
comparing ``data/`` against the latest manifest (``orphans()``).
"""

from __future__ import annotations

import json
import os
import uuid

import pandas as pd  # module-level so the bloom UDF's type hints resolve
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: predicate ops accepted by ``read(where=...)`` / ``files_for``
_OPS = ("==", "<", "<=", ">", ">=")

# ---------------------------------------------------------------------------
# per-file bloom filters (equality-predicate file skipping)
# ---------------------------------------------------------------------------
# Min/max stats prune RANGE predicates, but a point lookup on a
# hash-distributed high-cardinality column (digest, url — exactly the
# takedown/dedup access pattern) finds every file's [min, max] straddling
# the probe value: zero files pruned. Iceberg solves this with per-file
# bloom sidecars; same here, held sparsely in the manifest (m=8192 bits =
# 1 KB/file/column, ~1% false positives at ~850 distinct values per file).
# Hashing is md5 double-hashing (Kirsch-Mitzenmacher h1 + j*h2) over a
# canonical byte encoding — deliberately NOT Spark's xxhash64, so the
# driver can probe a literal without replicating JVM hash internals, and
# the build (a commit-time Arrow-batched pass over only the files just
# written) produces identical bits on any engine.

_BLOOM_M = 8192  # bits per (file, column)
_BLOOM_K = 7


def _bloom_bytes(value) -> bytes | None:
    """Canonical byte encoding for bloom hashing; None = ineligible type
    (floats excluded — equality probes on floats are not a real workload,
    and their textual canonicalization is locale/format-fragile).

    numpy integer scalars are accepted and normalized through ``int``:
    the build side sees ``np.int64`` elements from the Arrow batch while
    the probe side sees Python ints — without the normalization every
    integer bloom would silently build empty and skipping would be a
    no-op (r5 review)."""
    import numpy as np

    if isinstance(value, (bool, np.bool_)) or value is None:
        return None
    if isinstance(value, str):
        return value.encode("utf-8")
    if isinstance(value, (int, np.integer)):
        return str(int(value)).encode("ascii")
    return None


def _bloom_positions(value) -> list[int] | None:
    import hashlib

    raw = _bloom_bytes(value)
    if raw is None:
        return None
    d = hashlib.md5(raw).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1  # odd → cycles all of [0, m)
    return [(h1 + j * h2) % _BLOOM_M for j in range(_BLOOM_K)]


def _bloom_may_contain(bloom: dict, value) -> bool:
    """Probe one file's manifest bloom; missing/ineligible → True (never
    prune blind, same contract as _may_match)."""
    pos = _bloom_positions(value)
    if pos is None or bloom.get("m") != _BLOOM_M or bloom.get("k") != _BLOOM_K:
        return True
    words = bloom.get("words", {})
    for p in pos:
        if not (int(words.get(str(p >> 6), 0)) >> (p & 63)) & 1:
            return False
    return True


def _build_blooms(df_schema, spark, data_dir: str, cols: list[str]) -> dict:
    """{rel_basename: {col: {m, k, words}}} for the files under
    ``data_dir`` — ONE distributed pass per column over only the files the
    commit just wrote: distinct (file, value) pairs map to bit positions
    in an Arrow-batched UDF, then a bit_or rollup packs 64 bits per word.
    The collect is manifest-sized (files × set words), never row-sized."""
    eligible = {
        f.name: f.dataType.simpleString() for f in df_schema.fields
    }
    out: dict[str, dict] = {}
    for c in cols:
        t = eligible.get(c)
        if t not in ("string", "bigint", "int", "smallint", "tinyint", "long"):
            raise ValueError(
                f"bloom column {c!r} has unsupported type {t!r} "
                "(string/integer only)"
            )
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("array<long>")
        def _pos(vals: pd.Series) -> pd.Series:
            return vals.map(lambda v: None if v is None else _bloom_positions(v))

        rows = (
            spark.read.parquet(data_dir)
            .select(F.input_file_name().alias("_f"), F.col(c).alias("_v"))
            .where(F.col("_v").isNotNull())
            .distinct()
            .select("_f", F.explode(_pos(F.col("_v"))).alias("_p"))
            .groupBy("_f", F.expr("_p div 64").alias("_w"))
            .agg(
                F.bit_or(
                    F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_p % 64 AS INT))")
                ).alias("_bits")
            )
            .collect()
        )
        for r in rows:
            base = os.path.basename(r._f)
            ent = out.setdefault(base, {}).setdefault(
                c, {"m": _BLOOM_M, "k": _BLOOM_K, "words": {}}
            )
            ent["words"][str(int(r._w))] = int(r._bits)
    return out


def _footer_stats(path: str) -> tuple[int, dict[str, list]]:
    """(row_count, {col: [min, max]}) from a parquet footer. Only columns
    whose every row group carries min/max of a JSON-comparable scalar type
    (int/float/str/bool) are kept — anything else is simply absent, which
    the pruner treats as "cannot prune on this column" (always safe)."""
    import pyarrow.parquet as pq

    import math

    md = pq.ParquetFile(path).metadata
    names = [md.schema.column(i).path for i in range(md.num_columns)]
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    dead: set[str] = set()
    for rg in range(md.num_row_groups):
        for i, name in enumerate(names):
            if name in dead:
                continue
            st = md.row_group(rg).column(i).statistics
            if st is None or not st.has_min_max or not isinstance(
                st.min, (int, float, str, bool)
            ):
                dead.add(name)
                continue
            # NaN-contaminated float stats are meaningless (every comparison
            # is False → a file could be pruned while containing matching
            # rows; the parquet spec permits writers that emit them). Treat
            # the column's stats as absent — the "never prune blind" rule.
            if isinstance(st.min, float) and (math.isnan(st.min) or math.isnan(st.max)):
                dead.add(name)
                continue
            if name not in mins or st.min < mins[name]:
                mins[name] = st.min
            if name not in maxs or st.max > maxs[name]:
                maxs[name] = st.max
    stats = {n: [mins[n], maxs[n]] for n in mins if n not in dead}
    return md.num_rows, stats


def _may_match(stats: dict[str, list], col: str, op: str, val) -> bool:
    """Can any row of a file with these column ranges satisfy the
    predicate? Missing stats → True (never prune blind). NULLs never
    satisfy a comparison, so min/max of the non-null values is sufficient
    evidence either way."""
    if col not in stats:
        return True
    lo, hi = stats[col]
    # belt-and-braces NaN guard: _footer_stats drops NaN-contaminated float
    # stats at collection time, but a manifest written before that guard
    # (json round-trips NaN as a literal) could still carry them — every
    # NaN comparison is False, which would prune a file blind
    import math

    if any(isinstance(x, float) and math.isnan(x) for x in (lo, hi)):
        return True
    try:
        if op == "==":
            return lo <= val <= hi
        if op == "<":
            return lo < val
        if op == "<=":
            return lo <= val
        if op == ">":
            return hi > val
        if op == ">=":
            return hi >= val
    except TypeError:  # predicate value not comparable with the stats type
        return True
    raise ValueError(f"unknown predicate op {op!r}; use one of {_OPS}")


def _validate_where(where: list[tuple] | None) -> None:
    """Reject unknown ops up front — never inside the per-file loop, where
    a stats-less column would silently skip the check, and never as a raw
    KeyError from the residual-filter dict."""
    for _, op, _ in where or []:
        if op not in _OPS:
            raise ValueError(f"unknown predicate op {op!r}; use one of {_OPS}")


def _residual(where: list[tuple]) -> Column:
    cond = F.lit(True)
    for col, op, val in where:
        c = F.col(col)
        cond = cond & {
            "==": c == val, "<": c < val, "<=": c <= val, ">": c > val, ">=": c >= val,
        }[op]
    return cond


def digest_first_wins(docs: "DataFrame", text_col: str = "text",
                      order_col: str = "doc_id",
                      digest_col: str = "_digest") -> "DataFrame":
    """Keep the min-``order_col`` row per content digest, digest attached.
    The ONE definition of the table's content-dedup rule — used by
    ``SnapshotTable.dedup_append`` and, as the one-shot batch twin a
    drained streaming ingest must equal, by tests/test_stream_ingest.py,
    so a digest or tie-break change can never silently desync the parity
    tests."""
    from pyspark.sql import Window

    w = Window.partitionBy(digest_col).orderBy(order_col)
    return (
        docs.withColumn(digest_col, F.md5(F.col(text_col)))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


class CommitConflict(RuntimeError):
    """Another committer published this version first (retryable)."""


def _publish_link(tmp: str, final: str) -> None:
    """Atomic create-if-absent publish (POSIX link semantics)."""
    try:
        os.link(tmp, final)
    except FileExistsError as e:
        raise CommitConflict(final) from e
    finally:
        os.unlink(tmp)


class SnapshotTable:
    """Versioned, atomically-committed parquet table (append-only)."""

    def __init__(self, path: str, publish=_publish_link):
        self.path = path
        self._publish = publish
        os.makedirs(os.path.join(path, "_manifests"), exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)

    # -- manifest bookkeeping ------------------------------------------------

    def _mdir(self) -> str:
        return os.path.join(self.path, "_manifests")

    def versions(self) -> list[int]:
        out = []
        for f in os.listdir(self._mdir()):
            if f.startswith("v") and f.endswith(".json"):
                out.append(int(f[1:-5]))
        return sorted(out)

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def manifest(self, version: int) -> dict:
        """Manifest ``version`` as ``commit``/``delete`` write it. A manifest
        without a recorded ``schema`` (written before schemas were
        recorded) is refused: its files' union schema is unknown."""
        with open(os.path.join(self._mdir(), f"v{version:08d}.json")) as f:
            doc = json.load(f)
        if "schema" not in doc:
            raise ValueError(
                f"{self.path!r}: manifest v{version} records no schema; "
                "rewrite the table into a fresh path"
            )
        return doc

    @staticmethod
    def _reader(spark: SparkSession, doc: dict):
        """A parquet reader of the snapshot's recorded schema (the additive
        union over its history), projected by NAME: files written before a
        column was added read it as NULL."""
        from pyspark.sql.types import StructField, StructType, _parse_datatype_json_string

        return spark.read.schema(StructType([
            StructField(n, _parse_datatype_json_string(t), True)
            for n, t in doc["schema"].items()
        ]))

    @staticmethod
    def _check_evolution(parent_schema: dict[str, str], df: DataFrame, parent_v) -> None:
        """Additive schema evolution (the Iceberg rule subset that is safe
        without column IDs): new columns may appear; existing columns must
        keep their type; drops/renames are refused so a column name can
        never silently change meaning."""
        new_fields = {f.name: f.dataType.json() for f in df.schema.fields}
        for name, typ in parent_schema.items():
            if name not in new_fields:
                raise ValueError(
                    f"schema evolution is additive-only: commit drops column "
                    f"{name!r} present in snapshot v{parent_v}"
                )
            if new_fields[name] != typ:
                raise ValueError(
                    f"schema evolution is additive-only: column {name!r} "
                    f"changes type {typ} -> {new_fields[name]}"
                )

    # -- commit / read -------------------------------------------------------

    def _publish_manifest(self, next_doc, max_retries: int) -> int:
        """The one manifest publish loop of ``commit`` and ``delete``:
        ``next_doc(latest)`` builds the next manifest against the latest
        version (raising aborts); it is written to a tmp file, fsynced and
        published as ``v{doc["version"]}``. A version collision re-reads the
        latest version and rebuilds (rebasing the file list); after
        ``max_retries`` collisions it gives up."""
        for _ in range(max_retries):
            doc = next_doc(self.latest_version())
            tmp = os.path.join(self._mdir(), f".tmp-{uuid.uuid4().hex}.json")
            with open(tmp, "w") as f:
                json.dump(doc, f)
                f.flush()
                os.fsync(f.fileno())
            try:
                self._publish(tmp, os.path.join(self._mdir(), f"v{doc['version']:08d}.json"))
                return doc["version"]
            except CommitConflict:
                continue  # re-read latest, rebase, try N+1
        raise CommitConflict(f"gave up after {max_retries} retries at {self.path}")

    def commit(self, df: DataFrame, run_id: str, max_retries: int = 10,
               replace: bool = False, expected_parent: int | None = None,
               bloom_cols: list[str] | None = None,
               _delete_keys: tuple[list[str], list[str]] | None = None) -> int:
        """Atomically commit ``df`` as a new snapshot; returns its version.

        ``replace=False`` (default): APPEND — the snapshot is the parent's
        files plus this commit's. ``replace=True``: the snapshot is ONLY
        this commit's files (Iceberg's rewrite/overwrite commit); prior
        versions still time-travel until vacuumed, and their data files
        stay on disk because old manifests still reference them.

        ``expected_parent`` — optimistic-concurrency guard for read-then-
        replace flows (``compact``): the commit FAILS with CommitConflict
        if the table's latest version is no longer this one, instead of
        blindly rebasing. Without it, a concurrent append landing between
        the compactor's read and its publish would be silently dropped
        from the replacement snapshot (and later vacuumed) — the lost
        update Iceberg's rewrite_data_files also refuses. BLIND appends
        never need it (rebasing is always correct), but an append whose
        CONTENT came from a read of the table (``dedup_append``) does —
        its invariant goes stale the moment a concurrent commit lands, so
        the guard applies to both commit kinds when supplied.

        The Spark write happens ONCE (data files are commit-private);
        only the manifest publish retries on version collision.
        """
        cid = f"{run_id}-{uuid.uuid4().hex[:12]}"
        ddir = os.path.join(self.path, "data", cid)
        pre = self.latest_version()
        if pre is not None:
            # fail additive-only violations BEFORE the (possibly huge) data
            # write; the publish loop re-validates against whatever parent
            # it actually rebases onto
            self._check_evolution(self.manifest(pre)["schema"], df, pre)
        df.write.mode("error").parquet(ddir)
        files = sorted(
            f"data/{cid}/{f}" for f in os.listdir(ddir) if f.endswith(".parquet")
        )
        stats = {}
        for rel in files:
            rows, col_stats = _footer_stats(os.path.join(self.path, rel))
            stats[rel] = {"rows": rows, "stats": col_stats}
        # bloom_cols=None inherits the table's configured columns, so
        # routine appends and compact()'s replace re-commit keep the
        # equality-skipping property without restating it every call.
        # The BUILD uses the pre-read config (it's the expensive pass and
        # runs once); the RECORDED config is re-resolved inside the retry
        # loop against the actual rebase parent, so a rebased commit can
        # never clobber bloom_cols configured by a concurrent first commit
        # (r5 review). Files built under a stale config stay safe either
        # way: an absent bloom entry is never pruned.
        eff_bloom = bloom_cols if bloom_cols is not None else (
            self.manifest(pre).get("bloom_cols", []) if pre is not None else []
        )
        file_blooms = {}
        if eff_bloom:
            built = _build_blooms(df.schema, df.sparkSession, ddir, eff_bloom)
            file_blooms = {f"data/{cid}/{b}": v for b, v in built.items()}
        new_fields = {f.name: f.dataType.json() for f in df.schema.fields}

        def next_doc(latest: int | None) -> dict:
            # expected_parent=-1 means "the read saw an EMPTY table" (the
            # guard must also catch a racing FIRST commit)
            if expected_parent is not None and latest != (
                None if expected_parent < 0 else expected_parent
            ):
                raise CommitConflict(
                    f"commit based on v{expected_parent} but table is at "
                    f"v{latest}: a concurrent commit landed after the "
                    f"read; re-read and retry the whole operation"
                )
            parent_doc = self.manifest(latest) if latest is not None else {}
            parent = parent_doc.get("files", [])
            parent_schema = parent_doc.get("schema", {})
            self._check_evolution(parent_schema, df, latest)
            version = (latest if latest is not None else -1) + 1
            doc = {
                "version": version,
                "parent": latest,
                "run_id": run_id,
                "files": files if replace else parent + files,
                "added": files,
                "operation": "upsert" if _delete_keys
                else ("replace" if replace else "append"),
                # pre-stats manifests (older table versions) simply lack
                # entries for their files — the pruner keeps those files
                "file_stats": stats if replace
                else {**parent_doc.get("file_stats", {}), **stats},
                # per-file sequence number (the version that added the file)
                # — what decides which equality deletes apply to which rows
                # (a delete affects only files with a LOWER seq)
                "file_seq": {f: version for f in files} if replace
                else {**parent_doc.get("file_seq", {}),
                      **{f: version for f in files}},
                "bloom_cols": bloom_cols if bloom_cols is not None
                else parent_doc.get("bloom_cols", []),
                "file_blooms": file_blooms if replace
                else {**parent_doc.get("file_blooms", {}), **file_blooms},
                # replace folds deletes into the rewritten data (read()
                # already applied them to the frame being committed);
                # _delete_keys (upsert) adds ONE delete entry at THIS
                # commit's seq — applying to every prior file, never to
                # the files committed alongside it (read()'s strict >)
                "deletes": ([] if replace else parent_doc.get("deletes", []))
                + ([{"files": _delete_keys[0], "key_cols": _delete_keys[1],
                     "seq": version}] if _delete_keys else []),
                # union of parent + new columns: files written before a
                # column was added surface it as NULL on read
                "schema": {**parent_schema, **new_fields},
            }
            return doc

        return self._publish_manifest(next_doc, max_retries)

    def delete(self, keys: DataFrame, run_id: str, max_retries: int = 10) -> int:
        """Merge-on-read row-level DELETE (Iceberg equality deletes): commit
        a delete file of key rows — takedown / right-to-be-forgotten lists —
        WITHOUT rewriting any data file. ``keys``'s columns ARE the equality
        key (e.g. a one-column ``doc_id`` frame). Readers apply the delete
        as an anti-join; ``compact()`` folds it into rewritten data files.

        Sequence semantics match Iceberg: the delete applies only to data
        files committed BEFORE it (lower seq), so re-appending a deleted
        key later makes it visible again — a takedown never silently
        swallows future legitimate content.

        Reference: the checkpoint/resume protocol (src/Processors.jl
        breakpoints) plus the LLM-pipeline takedown requirement paired with
        ``blocklist_filter`` (operators/corpus.py).
        """
        key_cols = list(keys.columns)
        if not key_cols:
            raise ValueError("delete keys frame has no columns")
        cid = f"{run_id}-{uuid.uuid4().hex[:12]}"
        ddir = os.path.join(self.path, "data", cid)
        keys.dropDuplicates().write.mode("error").parquet(ddir)
        dfiles = sorted(
            f"data/{cid}/{f}" for f in os.listdir(ddir) if f.endswith(".parquet")
        )

        def next_doc(latest: int | None) -> dict:
            if latest is None:
                raise ValueError("cannot delete from a table with no snapshot")
            parent_doc = self.manifest(latest)
            schema = parent_doc["schema"]
            missing = [c for c in key_cols if c not in schema]
            if missing:
                raise ValueError(
                    f"delete key column(s) {missing} not in table schema "
                    f"{sorted(schema)}"
                )
            version = latest + 1
            doc = {
                **{k: parent_doc[k] for k in
                   ("files", "file_stats", "file_seq", "schema",
                    "bloom_cols", "file_blooms")
                   if k in parent_doc},
                "version": version,
                "parent": latest,
                "run_id": run_id,
                "added": [],
                "operation": "delete",
                "deletes": parent_doc.get("deletes", []) + [
                    {"files": dfiles, "key_cols": key_cols, "seq": version}
                ],
            }
            return doc

        return self._publish_manifest(next_doc, max_retries)

    def upsert(self, increment: DataFrame, key_cols: list[str],
               run_id: str = "upsert", max_retries: int = 10,
               expected_parent: int | None = None) -> int:
        """☆ MERGE INTO analog (latest-wins upsert) as ONE atomic commit:
        the increment's key set is equality-deleted from every PRIOR data
        file (merge-on-read — nothing rewritten) and the increment's rows
        appended, both under the same sequence number. Readers never
        observe the keys-missing intermediate state a separate
        delete-then-append pair would expose, and time travel to the
        parent still sees the old rows.

        The increment must be UNIQUE on ``key_cols`` (validated with one
        aggregate): duplicate keys would land side-by-side because a
        delete never applies to its own commit's files (read()'s strict
        seq comparison — the same rule that makes re-appends after a
        takedown visible).

        Scale: the delete file is increment-key-sized; read-side cost is
        the same broadcast anti-join the takedown path already pays, and
        ``compact()`` folds it away entirely."""
        missing = [c for c in key_cols if c not in increment.columns]
        if missing:
            raise ValueError(f"upsert key column(s) {missing} not in increment")
        # materialize the increment ONCE: the uniqueness check, the key
        # file, and the data file must all see the SAME rows — a
        # non-deterministic increment plan (sampling, timestamps,
        # shuffle-nondeterminism) evaluated three times could commit a
        # delete-key file that disagrees with the committed rows (r5
        # review). localCheckpoint pins the rows; increments are
        # increment-sized by definition.
        increment = increment.localCheckpoint(eager=True)
        if not increment.groupBy(*key_cols).count().filter(
            F.col("count") > 1
        ).isEmpty():
            raise ValueError(
                f"increment is not unique on {key_cols}: latest-wins is "
                f"undefined within one commit — dedup it first"
            )
        cid = f"{run_id}-del-{uuid.uuid4().hex[:12]}"
        kdir = os.path.join(self.path, "data", cid)
        increment.select(*key_cols).dropDuplicates().write.mode("error").parquet(kdir)
        kfiles = sorted(
            f"data/{cid}/{f}" for f in os.listdir(kdir) if f.endswith(".parquet")
        )
        return self.commit(
            increment, run_id, max_retries=max_retries,
            expected_parent=expected_parent,
            _delete_keys=(kfiles, list(key_cols)),
        )

    def files_for(self, version: int | None = None,
                  where: list[tuple] | None = None) -> list[str]:
        """The snapshot's file list after manifest-stat pruning: files
        whose min/max range provably cannot satisfy every ``(col, op,
        value)`` conjunct are skipped without being opened — Iceberg's
        manifest-level pruning over the stats ``commit`` recorded."""
        _validate_where(where)
        v = self.latest_version() if version is None else version
        if v is None:
            return []
        doc = self.manifest(v)
        files = doc["files"]
        if not where:
            return files
        fstats = doc.get("file_stats", {})
        fblooms = doc.get("file_blooms", {})
        return [
            f for f in files
            if all(
                _may_match(fstats.get(f, {}).get("stats", {}), c, op, val)
                and (
                    op != "=="
                    or _bloom_may_contain(fblooms.get(f, {}).get(c, {}), val)
                )
                for c, op, val in where
            )
        ]

    def read(self, spark: SparkSession, version: int | None = None,
             where: list[tuple] | None = None) -> DataFrame | None:
        """Snapshot ``version`` (default latest) as a DataFrame; ``None``
        when the table has no committed snapshot yet. Reads exactly the
        manifest's files — orphans from crashed commits are invisible.

        ``where`` — optional conjunctive predicates ``[(col, op, value)]``
        with op in ``== < <= > >=``: files are pruned via manifest stats
        (``files_for``) and the residual filter is applied to the surviving
        rows, so the result equals a full scan + filter while touching only
        the files whose range can match."""
        v = self.latest_version() if version is None else version
        if v is None:
            return None
        doc = self.manifest(v)
        all_files = doc["files"]
        if not all_files:
            return None
        reader = self._reader(spark, doc)
        files = self.files_for(v, where)
        if not files:
            # schema-stable empty result, read no rows: the recorded schema
            # projects by name, so one file suffices
            return reader.parquet(os.path.join(self.path, all_files[0])).filter(F.lit(False))
        df = self._read_with_deletes(spark, reader, doc, files)
        return df.filter(_residual(where)) if where else df

    def _read_with_deletes(self, spark: SparkSession, reader, doc: dict,
                           files: list[str]) -> DataFrame:
        """Merge-on-read: group the data files by WHICH equality deletes
        apply (a delete applies to files with a lower seq — applicability
        is monotone in seq, so at most ``n_deletes + 1`` groups exist),
        anti-join each group against its applicable delete keys, and union.
        Deletes sharing an equality key are unioned into ONE anti-join.

        Scale: delete files are takedown-list sized (≪ data); the
        anti-joins are key-column-only and AQE broadcasts them. Data rows
        are read once — no per-delete rescan."""
        deletes = doc.get("deletes", [])
        if not deletes:
            return reader.parquet(*[os.path.join(self.path, f) for f in files])
        groups: dict[tuple, list[str]] = {}
        for f in files:
            applicable = tuple(i for i, d in enumerate(deletes) if d["seq"] > doc["file_seq"][f])
            groups.setdefault(applicable, []).append(f)
        parts = []
        for applicable, fl in sorted(groups.items()):
            part = reader.parquet(*[os.path.join(self.path, f) for f in fl])
            by_key: dict[tuple, list[dict]] = {}
            for i in applicable:
                by_key.setdefault(tuple(deletes[i]["key_cols"]), []).append(deletes[i])
            for key_cols, ds in sorted(by_key.items()):
                keys = spark.read.parquet(*[
                    os.path.join(self.path, f) for d in ds for f in d["files"]
                ]).dropDuplicates()
                part = part.join(keys, on=list(key_cols), how="left_anti")
            parts.append(part)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def history(self) -> list[dict]:
        """Commit log, oldest first: one row per snapshot with its run_id,
        parent, and file/row counts — Iceberg's snapshot-history metadata
        table, driver-side (manifests are KBs)."""
        out = []
        for v in self.versions():
            doc = self.manifest(v)
            fstats = doc.get("file_stats", {})
            out.append({
                "version": v,
                "parent": doc.get("parent"),
                "run_id": doc.get("run_id"),
                "operation": doc.get("operation", "append"),
                "n_deletes": len(doc.get("deletes", [])),
                "n_files": len(doc.get("files", [])),
                "added_files": len(doc.get("added", [])),
                "added_rows": sum(
                    fstats[f]["rows"] for f in doc.get("added", []) if f in fstats
                ),
            })
        return out

    def read_added(self, spark: SparkSession, version: int) -> DataFrame | None:
        """Incremental read: ONLY the rows snapshot ``version`` appended —
        Iceberg's incremental-scan property, the consumption side of the
        checkpoint protocol (a downstream job processes each commit exactly
        once by walking versions). Reads just the commit's own data files;
        ``None`` when the commit added nothing."""
        doc = self.manifest(version)
        added = doc.get("added", [])
        if not added:
            return None
        return self._reader(spark, doc).parquet(*[os.path.join(self.path, f) for f in added])

    def compact(self, spark: SparkSession, target_files: int = 1,
                run_id: str = "compact") -> int | None:
        """Rewrite the latest snapshot's data into ``target_files`` files
        via a ``replace`` commit (Iceberg's rewrite_data_files): the cure
        for small-file buildup from many incremental appends, and the fold
        point for merge-on-read deletes (the rewrite materializes the
        anti-joins, so the new snapshot carries no delete files). Rows are
        identical by construction; prior versions still time-travel until
        vacuumed. Returns the new version (``None`` on an empty table).

        Concurrency: the read-then-replace pins ``expected_parent`` to the
        version it read, so a concurrent append/delete landing mid-compact
        raises CommitConflict instead of being silently dropped from the
        replacement snapshot (the lost-update Iceberg's rewrite_data_files
        also fails on). The caller re-runs compact()."""
        base = self.latest_version()
        df = self.read(spark, version=base)
        if df is None:
            return None
        return self.commit(df.coalesce(target_files), run_id, replace=True,
                           expected_parent=base)

    def dedup_append(self, spark: SparkSession, increment: DataFrame,
                     text_col: str = "text", order_col: str = "doc_id",
                     digest_col: str = "_digest",
                     run_id: str = "increment") -> tuple[int, int]:
        """☆ Incremental cross-snapshot dedup: append a new crawl increment
        keeping ONLY rows whose content digest is absent from the
        accumulated corpus — without rescanning the corpus text. Rows are
        stored WITH their digest, so the dedup anti-join reads just the
        digest column of prior snapshots (parquet column pruning: the
        accumulated text bytes are never re-read). Within-increment
        duplicates keep the lowest ``order_col`` row (deterministic).

        Appending the same increment twice is a no-op by construction
        (second pass finds every digest already present). Returns
        ``(version, n_new_rows)``.

        Scale: the anti-join shuffles only (digest) against the increment;
        at 100 TB the corpus side is a single-column scan of ~16-byte
        digests, and AQE broadcasts the increment when it's the small side.
        The streaming twin of this pattern is streaming/hygiene.py's
        idempotent foreachBatch partials.

        Concurrency: the uniqueness invariant depends on the read, so the
        commit pins ``expected_parent`` to the version the anti-join saw
        (r5 review: a plain append would let two racing increments both
        pass the absence check and both land). On CommitConflict the whole
        read→dedup→commit is retried against the new latest snapshot."""
        inc0 = digest_first_wins(increment, text_col, order_col, digest_col)
        for _ in range(5):
            base_v = self.latest_version()
            inc = inc0
            if base_v is not None:
                base = self.read(spark, version=base_v)
                if base is not None:
                    inc = inc.join(base.select(digest_col).distinct(),
                                   on=digest_col, how="left_anti")
            try:
                version = self.commit(
                    inc, run_id,
                    expected_parent=-1 if base_v is None else base_v,
                )
            except CommitConflict:
                continue  # a concurrent commit may hold our digests: redo
            added = self.read_added(spark, version)
            return version, (0 if added is None else added.count())
        raise CommitConflict(
            f"dedup_append gave up after 5 read-retry rounds at {self.path}"
        )

    def _live_dirs(self, versions: list[int] | None = None) -> set[str]:
        vs = self.versions() if versions is None else versions
        live: set[str] = set()
        for v in vs:
            doc = self.manifest(v)
            live |= {f.split("/")[1] for f in doc["files"]}
            # delete files live under data/<cid>/ too: vacuuming one while
            # its manifest survives would resurrect deleted rows
            live |= {f.split("/")[1]
                     for d in doc.get("deletes", []) for f in d["files"]}
        return live

    def orphans(self) -> list[str]:
        """Data directories not referenced by ANY manifest — debris from
        crashed commits, safe to GC. (Referenced-by-an-old-manifest-only
        dirs are NOT orphans: a ``replace`` commit drops files from the
        latest snapshot while older versions still time-travel to them —
        those become deletable only when ``vacuum`` expires their
        manifests.)"""
        live = self._live_dirs()
        ddir = os.path.join(self.path, "data")
        return sorted(d for d in os.listdir(ddir) if d not in live)

    def vacuum(self, keep_versions: int = 1, min_age_s: float = 3600.0) -> list[str]:
        """Delete orphaned data directories and manifests older than the
        newest ``keep_versions`` snapshots (time travel shrinks
        accordingly; the latest snapshot is never touched). Because the
        latest manifest is self-contained, vacuum never breaks a reader
        that re-resolves the manifest; a reader holding an OLD version
        open races with its deletion — the same contract as Iceberg's
        expire_snapshots. Orphans younger than ``min_age_s`` are KEPT: an
        in-flight committer's data directory looks orphaned between its
        Spark write and its manifest publish, and deleting it would let
        the publish succeed pointing at dead files (Iceberg's
        remove_orphan_files ``older_than`` rule). Returns what was
        deleted."""
        import shutil
        import time

        deleted = []
        now = time.time()
        vs = self.versions()
        drop = vs[:-keep_versions] if keep_versions > 0 else []
        keep = [v for v in vs if v not in drop]
        # liveness over the manifests that will REMAIN: after a `replace`
        # commit, files absent from the latest snapshot are still live as
        # long as an unexpired manifest references them (time travel)
        live = self._live_dirs(keep)
        # manifests go FIRST: a crash mid-vacuum must never leave a
        # surviving manifest pointing at deleted data — expired manifests
        # gone but their data still present just means debris for the next
        # vacuum, the safe direction
        for v in drop:
            os.unlink(os.path.join(self._mdir(), f"v{v:08d}.json"))
            deleted.append(f"_manifests/v{v:08d}.json")
        ddir = os.path.join(self.path, "data")
        for d in sorted(os.listdir(ddir)):
            if d in live:
                continue
            full = os.path.join(ddir, d)
            if now - os.path.getmtime(full) < min_age_s:
                continue  # possibly an in-flight commit
            shutil.rmtree(full)
            deleted.append(f"data/{d}")
        return deleted
