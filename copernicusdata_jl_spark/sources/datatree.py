"""DataTree — the engine's hierarchical namespace of DataFrames, the Spark
re-expression of the reference's ``YAXTree`` (reference src/YAXTrees.jl:29-36:
name/path/properties/parent/children/data).

A node holds: ``name``, ``path``, ``properties`` (dict), optional ``data``
(a lazy DataFrame — nothing is scanned until an action, matching the
reference's DiskArrays laziness, reference README.md:27), and named
``children``. Physical layout on disk: one directory per node with
``_data.parquet/`` (partitioned parquet dataset) and ``_properties.json``,
children as subdirectories — the Zarr-group-tree analog where Iceberg
namespaces would be used on a real catalog.

Operator parity (SURVEY.md §2.9):
- T1 iterate (DFS pre-order, reference src/YAXTrees.jl:645-701)
- T2/T3 map_over_subtrees (src/YAXTrees.jl:724-746)
- T4 add_children / add_children_full_path (src/YAXTrees.jl:232-283)
- T5 path getitem "a/b/c" + path_exists (src/YAXTrees.jl:58-120)
- T9 isomorphic — structural parity, explicitly not value parity
  (src/YAXTrees.jl:1192-1236, docs/src/release_notes.md:51-53)
- P1/P2 select_vars/exclude_vars over every data node
  (src/YAXTrees.jl:1082-1175)
- S3 fill_value→missing_value normalization at scan
  (src/YAXTrees.jl:361-411)
- S10 to_parquet sink, refusing overwrite (src/YAXTrees.jl:748-773)
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DATA_DIR = "_data.parquet"
PROPS_FILE = "_properties.json"


class DataTree:
    def __init__(
        self,
        name: str = "root",
        properties: dict | None = None,
        data: DataFrame | None = None,
        parent: "DataTree | None" = None,
    ) -> None:
        if "/" in name:
            raise ValueError(f"node name may not contain '/': {name!r}")
        self.name = name
        self.properties: dict = dict(properties or {})
        self.data = data
        self.parent = parent
        self.children: dict[str, DataTree] = {}

    # -- T5: path access ----------------------------------------------------

    @property
    def path(self) -> str:
        parts: list[str] = []
        node: DataTree | None = self
        while node is not None:
            parts.append(node.name)
            node = node.parent
        return "/".join(reversed(parts))

    @staticmethod
    def _split(path: str) -> list[str]:
        return [p for p in path.split("/") if p not in ("", ".")]

    def __getitem__(self, path: str) -> "DataTree":
        node = self
        for part in self._split(path):
            if part not in node.children:
                raise KeyError(f"no node {part!r} under {node.path!r}")
            node = node.children[part]
        return node

    def path_exists(self, path: str) -> bool:
        try:
            self[path]
            return True
        except KeyError:
            return False

    # -- T4: mutation -------------------------------------------------------

    def add_child(self, name: str, data: DataFrame | None = None, properties: dict | None = None) -> "DataTree":
        if name in self.children:
            raise ValueError(f"duplicate child {name!r} under {self.path!r}")
        node = DataTree(name, properties, data, parent=self)
        self.children[name] = node
        return node

    def add_children_full_path(self, path: str) -> "DataTree":
        """Create intermediate nodes as needed; return the leaf."""
        node = self
        for part in self._split(path):
            node = node.children.get(part) or node.add_child(part)
        return node

    # -- T1: DFS pre-order iteration ----------------------------------------

    def __iter__(self) -> Iterator["DataTree"]:
        yield self
        for name in sorted(self.children):
            yield from self.children[name]

    # -- T2/T3: map over subtrees -------------------------------------------

    def map_over_subtrees(self, fn: Callable[[DataFrame], DataFrame], all_nodes: bool = False) -> "DataTree":
        """Apply ``fn`` to every data-bearing node's DataFrame (T2); with
        ``all_nodes`` the callable receives None-data nodes too (T3).
        Returns a new tree; lazy — no job runs until an action."""

        def rec(src: DataTree, parent: DataTree | None) -> DataTree:
            data = fn(src.data) if src.data is not None or all_nodes else None
            out = DataTree(src.name, src.properties, data, parent)
            for name in sorted(src.children):
                out.children[name] = rec(src.children[name], out)
            return out

        return rec(self, None)

    # -- P1/P2: variable selection across the tree ---------------------------

    def select_vars(self, varnames: list[str], exclusive: bool = False) -> "DataTree":
        """Keep only listed columns in every data node (P1, reference
        src/YAXTrees.jl:1082-1126). ``exclusive``: nodes with no matching
        column lose their data entirely."""

        def rec(src: DataTree, parent: DataTree | None) -> DataTree:
            data = src.data
            if data is not None:
                keep = [c for c in data.columns if c in varnames]
                data = data.select(*keep) if keep else (None if exclusive else data.select())
            out = DataTree(src.name, src.properties, data, parent)
            for name in sorted(src.children):
                out.children[name] = rec(src.children[name], out)
            return out

        return rec(self, None)

    def exclude_vars(self, varnames: list[str], drop: bool = False) -> "DataTree":
        """Drop listed columns (P2, reference src/YAXTrees.jl:1146-1175);
        ``drop``: remove nodes whose data lost all its columns."""

        def rec(src: DataTree, parent: DataTree | None) -> DataTree | None:
            data = src.data
            if data is not None:
                keep = [c for c in data.columns if c not in varnames]
                data = data.select(*keep) if keep else None
            if drop and data is None and src.data is not None and not src.children:
                return None
            out = DataTree(src.name, src.properties, data, parent)
            for name in sorted(src.children):
                child = rec(src.children[name], out)
                if child is not None:
                    out.children[name] = child
            return out

        out = rec(self, None)
        assert out is not None
        return out

    # -- T9: structural comparison ------------------------------------------

    def isomorphic(self, other: "DataTree") -> bool:
        """Same tree shape, same data presence, same column names+types per
        node — NOT value equality (the reference's contract,
        docs/src/release_notes.md:51-53). Value parity is asserted
        separately via lineage checksums."""
        if sorted(self.children) != sorted(other.children):
            return False
        if (self.data is None) != (other.data is None):
            return False
        if self.data is not None and other.data is not None:
            a = sorted((f.name, f.dataType.simpleString()) for f in self.data.schema.fields)
            b = sorted((f.name, f.dataType.simpleString()) for f in other.data.schema.fields)
            if a != b:
                return False
        return all(self.children[k].isomorphic(other.children[k]) for k in self.children)

    # -- T8: rendering -------------------------------------------------------

    def show(self, indent: str = "") -> str:
        cols = "" if self.data is None else " [" + ", ".join(self.data.columns) + "]"
        lines = [f"{indent}{self.name or '/'}{cols}"]
        for name in sorted(self.children):
            lines.append(self.children[name].show(indent + "  "))
        return "\n".join(lines)

    # -- S10: sink -----------------------------------------------------------

    def to_parquet(self, root: str, mode: str = "error") -> None:
        """Write the whole tree under ``root`` — per-node parquet dataset +
        properties JSON. Refuses an existing target like the reference's
        to_zarr (src/YAXTrees.jl:748-773) unless mode='overwrite'."""
        if os.path.exists(root) and mode != "overwrite":
            raise FileExistsError(f"{root} exists; pass mode='overwrite'")
        for node in self:
            rel = "/".join(self._split(node.path)[1:])  # drop root name
            d = os.path.join(root, rel) if rel else root
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, PROPS_FILE), "w") as f:
                json.dump(node.properties, f, sort_keys=True)
            if node.data is not None:
                node.data.write.mode("overwrite").parquet(os.path.join(d, DATA_DIR))

    def to_zarr(
        self,
        root: str,
        mode: str = "error",
        zarr_format: int = 2,
        chunks: tuple[int, ...] | None = None,
    ) -> None:
        """S10 in the native format: write this tree as a Zarr group store
        (v2 default, ``zarr_format=3`` for a v3 store; see
        sources/zarr.write_zarr_datatree; data nodes must be zarr-shaped —
        idx_<dim> + value columns). Chunk objects are written by executor
        tasks, so ``root`` must be reachable by executors; the driver never
        materializes a full array."""
        from .zarr import write_zarr_datatree

        write_zarr_datatree(self, root, mode=mode, zarr_format=zarr_format, chunks=chunks)

    def to_zip(self, zpath: str, mode: str = "error") -> None:
        """S2/S10 zip twin (reference src/YAXTrees.jl:454-455 writes a
        ``Zarr.ZipStore``): materialize the tree layout and pack it into a
        single ``.zip`` archive. Refuses an existing target unless
        mode='overwrite'. Trees are config/product-catalog scale (the
        reference's ADF/product trees), so a driver-side archive is the
        right tool; bulk data lives in parquet/Iceberg tables."""
        import shutil
        import tempfile
        import zipfile

        if os.path.exists(zpath) and mode != "overwrite":
            raise FileExistsError(f"{zpath} exists; pass mode='overwrite'")
        tmp = tempfile.mkdtemp(prefix="dtzip_")
        try:
            root = os.path.join(tmp, "tree")
            self.to_parquet(root)
            with zipfile.ZipFile(zpath + ".tmp", "w", zipfile.ZIP_STORED) as z:
                for d, _dirs, files in sorted(os.walk(root)):
                    for f in sorted(files):
                        full = os.path.join(d, f)
                        z.write(full, os.path.relpath(full, root))
            os.replace(zpath + ".tmp", zpath)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# S3: fill-value normalization
# ---------------------------------------------------------------------------


def normalize_fill_value(df: DataFrame, fill: float, cols: list[str] | None = None) -> DataFrame:
    """fill_value → NULL at scan time (reference src/YAXTrees.jl:370-375
    rewrites fill_value to a missing_value attribute; Spark NULL is the
    first-class missing representation). Constant-folded by Catalyst."""
    cols = cols or [f.name for f in df.schema.fields if f.dataType.simpleString() in ("double", "float")]
    out = df
    for c in cols:
        out = out.withColumn(c, F.when(F.col(c) == F.lit(fill), F.lit(None)).otherwise(F.col(c)))
    return out


# ---------------------------------------------------------------------------
# S1/S2/S5: scans with driver dispatch
# ---------------------------------------------------------------------------


def open_parquet_datatree(spark: SparkSession, root: str, name: str | None = None, group: str | None = None) -> DataTree:
    """Recursive directory scan (S2's consolidated-group walk): every
    directory is a node; ``_data.parquet`` is its lazy DataFrame,
    ``_properties.json`` its properties. ``group`` filters nodes by path
    substring at scan time (S4's group filter → partition-style pruning:
    non-matching datasets are never even planned)."""

    def rec(d: str, node: DataTree) -> None:
        props = os.path.join(d, PROPS_FILE)
        if os.path.exists(props):
            with open(props) as f:
                node.properties.update(json.load(f))
        data_path = os.path.join(d, DATA_DIR)
        if os.path.isdir(data_path) and (group is None or group in node.path):
            node.data = spark.read.parquet(data_path)
        for entry in sorted(os.listdir(d)):
            full = os.path.join(d, entry)
            if os.path.isdir(full) and entry != DATA_DIR:
                rec(full, node.add_child(entry))

    if not os.path.isdir(root):
        raise FileNotFoundError(root)
    tree = DataTree(name or os.path.basename(root.rstrip("/")).replace("/", "_") or "root")
    rec(root, tree)
    return tree


def open_zip_datatree(
    spark: SparkSession, path: str, name: str | None = None, group: str | None = None
) -> DataTree:
    """S2 zip-archive scan (reference src/YAXTrees.jl:327-336 sniffs
    ``.zip`` and opens ``Zarr.ZipStore(mmap(path))``): extract the archived
    node layout to a scratch directory and scan it as a parquet tree.
    Extraction is driver-local and cached per (path, mtime) — tree archives
    are catalog-scale; the parquet datasets inside remain lazy DataFrames."""
    import tempfile
    import zipfile

    key = f"{os.path.abspath(path)}:{os.path.getmtime(path)}"
    cache = _ZIP_EXTRACT_CACHE
    tmp = cache.get(key)
    if tmp is None or not os.path.isdir(tmp):
        tmp = tempfile.mkdtemp(prefix="dtunzip_")
        with zipfile.ZipFile(path) as z:
            z.extractall(tmp)  # zipfile sanitizes absolute/.. member paths
        cache[key] = tmp
    base = os.path.basename(path)
    default = base[:-4] if base.endswith(".zip") else base
    return open_parquet_datatree(spark, tmp, name or default, group=group)


_ZIP_EXTRACT_CACHE: dict[str, str] = {}


def open_json_datatree(path: str, name: str | None = None) -> DataTree:
    """S5: JSON → tree for ADFs (reference src/YAXTrees.jl:468-511):
    dict→node, scalar/array→property (ADFs are driver-side config that
    becomes the broadcast side of joins, not distributed data)."""
    with open(path) as f:
        payload = json.load(f)
    return datatree_from_dict(payload, name or os.path.splitext(os.path.basename(path))[0])


def datatree_from_dict(d: dict, name: str = "root") -> DataTree:
    tree = DataTree(name)
    for k, v in d.items():
        if isinstance(v, dict):
            tree.children[k] = datatree_from_dict(v, k)
            tree.children[k].parent = tree
        else:
            tree.properties[k] = v
    return tree


def open_datatree(
    spark: SparkSession,
    path: str,
    driver: str | None = None,
    name: str | None = None,
    mapping: dict | str | None = None,
    group: str | None = None,
) -> DataTree:
    """S1: extension-sniffing scan dispatch (reference
    src/YAXTrees.jl:320-359: .zarr→zarr, .zip→ZipStore, .SEN3→sen3,
    .json→json). Here: .json→json tree, .zip→archived parquet tree,
    directory with node layout→parquet tree, .parquet → single-table tree;
    explicit ``driver`` overrides sniffing; ``mapping`` triggers the mapped
    (rename-projection) scan."""
    if driver is None:
        if path.endswith(".nc") and os.path.isfile(path):
            with open(path, "rb") as _f:
                magic = _f.read(4)
            if magic[:3] == b"CDF" and magic[3:] in (b"\x01", b"\x02"):
                driver = "nc3"
            elif magic == b"\x89HDF":
                raise NotImplementedError(
                    f"{path}: NetCDF-4 is an HDF5 container and needs h5py "
                    "(not installed); classic NetCDF-3 (CDF-1/CDF-2) is read "
                    "natively"
                )
            else:
                raise ValueError(f"{path}: unrecognized .nc magic {magic!r}")
        elif path.endswith(".json"):
            driver = "json"
        elif path.endswith(".zarr") or (
            os.path.isdir(path)
            and any(
                os.path.exists(os.path.join(path, m))
                for m in (".zgroup", ".zarray", "zarr.json")
            )
        ):
            driver = "zarr"
        elif path.endswith(".zip") and not os.path.isdir(path):
            # a .zip can hold either store: sniff for Zarr metadata members
            # (v2 .zgroup/.zarray or v3 zarr.json; the reference's ZipStore
            # twin, src/YAXTrees.jl:454-455)
            import zipfile as _zf

            with _zf.ZipFile(path) as z:
                names = z.namelist()
            driver = (
                "zarr"
                if any(
                    n.rsplit("/", 1)[-1] in (".zgroup", ".zarray", "zarr.json")
                    for n in names
                )
                else "zip"
            )
        elif path.endswith(".parquet") and not os.path.isdir(os.path.join(path, "..", DATA_DIR)):
            driver = "table" if not os.path.isdir(path) or any(
                f.endswith(".parquet") for f in os.listdir(path)
            ) else "tree"
        elif os.path.isdir(path):
            driver = "tree"
        else:
            raise ValueError(f"cannot infer driver for {path!r}")
    if driver == "json":
        return open_json_datatree(path, name)
    if driver == "zarr":
        from .zarr import open_zarr_datatree

        return open_zarr_datatree(spark, path, name, group=group)
    if driver == "nc3":
        from .netcdf3 import open_nc3_datatree

        return open_nc3_datatree(spark, path, name, group=group)
    if driver == "zip":
        return open_zip_datatree(spark, path, name, group=group)
    if driver == "table":
        t = DataTree(name or os.path.splitext(os.path.basename(path))[0])
        t.data = spark.read.parquet(path)
        return t
    if driver == "tree":
        if mapping is not None:
            from .mapping import open_mapped_datatree

            return open_mapped_datatree(spark, path, mapping, name=name, group=group)
        return open_parquet_datatree(spark, path, name, group=group)
    raise ValueError(f"unknown driver {driver!r}")
