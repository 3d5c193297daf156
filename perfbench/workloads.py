"""The two workloads: input preparation, per-session registration, one
untraced pass, one traced pass (each engine layer called and materialised
in turn inside a span), the per-pass output check, and the per-layer
metrics read from the trace.

``pages_neardup`` runs the flagship job and then the near-duplicate
queries (the ``NearDup`` part) in every pass; ``points_spatial`` runs the
spatial chain.

Untraced passes force their results by the pipeline's own writes and by
collecting every column of the outputs they check (``toArrow``); traced
passes materialise each layer in turn, by a cached ``noop`` write, an
eager ``localCheckpoint``, a collect or the layer's own write. Neither
times a ``count()``.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import shutil
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from copernicusdata_jl_spark import fixtures
from copernicusdata_jl_spark.flagship import (
    prepare_corpus,
    register_pages_bucketed,
    run_flagship,
    spatial_products,
)
from copernicusdata_jl_spark.functions import cells
from copernicusdata_jl_spark.operators.knn import knn_kring
from copernicusdata_jl_spark.operators.lineage import (
    read_checkpoint,
    run_with_resume,
    write_checkpoint,
)
from copernicusdata_jl_spark.operators.spatial_join import (
    build_covers,
    make_pip_udf,
    spatial_join,
    tile_pyramid,
)
from copernicusdata_jl_spark.queries import REGISTRY

from . import gen, ref
from .trace import EventLog, Tracer


def _dump(path: str, obj) -> None:
    with open(path + ".tmp", "wb") as f:
        pickle.dump(obj, f, protocol=pickle.HIGHEST_PROTOCOL)
    os.replace(path + ".tmp", path)


def _load(path: str):
    with open(path, "rb") as f:
        return pickle.load(f)


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _lineage_dict(tbl: pa.Table) -> dict[int, tuple]:
    d = tbl.to_pydict()
    return {
        int(b): (int(lo), int(hi), int(n), int(c))
        for b, lo, hi, n, c in zip(d["bucket"], d["cell_min"], d["cell_max"], d["row_count"], d["checksum"])
    }


def _close(a: float, b: float, tol: float = 2e-6) -> bool:
    return abs(a - b) <= tol


def _materialise(df):
    """Cache ``df`` and fill the cache with a ``noop`` write of every column;
    later plans built on ``df`` read the cache."""
    df.persist()
    df.write.format("noop").mode("overwrite").save()
    return df


# ---------------------------------------------------------------------------
# per-layer metric helpers over the event log
# ---------------------------------------------------------------------------

ROWS = "number of output rows"


def _groups(tr: Tracer, name: str) -> list[str]:
    return [s.group for s in tr.spans if s.name == name]


def _self_p50(tr: Tracer, name: str) -> float:
    v = [tr.self_time(s) for s in tr.spans if s.name == name]
    return statistics.median(v) if v else 0.0


def _per_pass(tr: Tracer, log: EventLog, name: str, fn) -> float:
    """Median over traced passes of ``fn(log, group)`` for span ``name``."""
    v = [fn(log, g) for g in _groups(tr, name)]
    return float(statistics.median(v)) if v else 0.0


def _unique_sum(log: EventLog, group: str, pred, metric: str) -> int:
    seen, tot = set(), 0
    for _e, n in log.nodes(group):
        a = n.metrics.get(metric)
        if a is not None and a not in seen and pred(n):
            seen.add(a)
            tot += log.acc.get(a, 0)
    return tot


def _rows_out(log: EventLog, group: str) -> int:
    """Rows produced by the group's last SQL execution: the first node from
    the root that counts output rows."""
    g = log.groups.get(group)
    if not g or not g.executions:
        return 0
    for n in log.plans.get(g.executions[-1], []):
        if ROWS in n.metrics:
            return log.value(n, ROWS)
    return 0


def _deepest_join_rows(log: EventLog, group: str) -> int:
    best_depth, rows = -1, 0
    for _e, n in log.nodes(group):
        if "Join" in n.name and ROWS in n.metrics:
            if n.depth > best_depth:
                best_depth, rows = n.depth, log.value(n, ROWS)
    return rows


def _max_rows(log: EventLog, group: str) -> int:
    return max((log.value(n, ROWS) for _e, n in log.nodes(group) if ROWS in n.metrics), default=0)


def _knn_rounds(log: EventLog, group: str) -> int:
    """Escalation rounds, counted from outside: the DataFrame-state loop
    ends each round with an ``isEmpty`` probe; the driver-state loop
    collects the query rows once, then the per-round stats."""
    desc = [log.exec_desc.get(e, "") for e in log.groups[group].executions]
    probes = sum(d.startswith("isEmpty") for d in desc)
    collects = sum(d.startswith("collect at") and "knn.py" in d for d in desc)
    return max(probes, collects - 1)


def _write_nodes(n) -> bool:
    return n.name.startswith("Execute InsertIntoHadoopFsRelationCommand")


def _lineage_metrics(tr: Tracer, log: EventLog, skipped: list[int]) -> dict[str, float]:
    return {
        "lineage.self_s": _self_p50(tr, "lineage"),
        "lineage.commit_s": _self_p50(tr, "lineage.commit"),
        "lineage.bytes_written": _per_pass(tr, log, "lineage", lambda l, g: _unique_sum(l, g, _write_nodes, "written output")
                                           + sum(_unique_sum(l, c.group, _write_nodes, "written output")
                                                 for c in tr.spans if c.parent == g)),
        "lineage.buckets_written": _per_pass(tr, log, "lineage", lambda l, g: _unique_sum(l, g, _write_nodes, ROWS)
                                             + sum(_unique_sum(l, c.group, _write_nodes, ROWS)
                                                   for c in tr.spans if c.parent == g)),
        "lineage.buckets_skipped": float(statistics.median(skipped)) if skipped else 0.0,
    }


# ---------------------------------------------------------------------------
# workload base
# ---------------------------------------------------------------------------


class Workload:
    name = ""

    def __init__(self, cache_root: str, work: str, seed: int):
        self.seed = seed
        self.sz = gen.SIZE
        # cached per seed and size
        size_tag = hashlib.sha1(json.dumps(self.sz, sort_keys=True).encode()).hexdigest()[:8]
        self.cache = os.path.join(cache_root, f"{self.name}-s{seed}-{size_tag}")
        self.work = work
        self.skipped: list[int] = []
        self.tracer: Tracer | None = None  # set by the runner before the first pass

    # -- preparation (outside every timed and set-up interval) --
    def prepare(self) -> None:
        """Inputs and reference outputs, cached per seed."""
        raise NotImplementedError

    def spark_ready(self) -> bool:
        return os.path.exists(os.path.join(self.cache, "spark_ready"))

    def prepare_spark(self, spark) -> None:
        """Inputs that need Spark to lay out (run once per seed)."""

    def mark_spark_ready(self) -> None:
        open(os.path.join(self.cache, "spark_ready"), "w").close()

    def pre_pass(self, i: int):
        """Untimed per-pass preparation; its result is passed to the pass."""
        return None


# ---------------------------------------------------------------------------
# pages_neardup
# ---------------------------------------------------------------------------


class PagesNearDup(Workload):
    name = "pages_neardup"
    TABLE, BUCKETS = "perfbench_pages", 8

    def __init__(self, cache_root: str, work: str, seed: int):
        super().__init__(cache_root, work, seed)
        self.dedup = NearDup(cache_root, work, seed)

    def prepare(self) -> None:
        self.dedup.prepare()
        if os.path.exists(os.path.join(self.cache, "ref.pkl")):
            self.ref = _load(os.path.join(self.cache, "ref.pkl"))
            return
        os.makedirs(self.cache, exist_ok=True)
        p = gen.pages(self.seed, self.sz["pages"], self.sz["page_dup_frac"])
        r = p["rows"]
        tbl = pa.table({
            "url": pa.array(r["url"], pa.string()),
            "warc_ts": pa.array(r["warc_ts"], pa.timestamp("us", tz="UTC")),
            "html": pa.array(r["html"], pa.binary()),
            "lang": pa.array(r["lang"], pa.string()),
            "lat": pa.array(r["lat"], pa.float64()),
            "lon": pa.array(r["lon"], pa.float64()),
        })
        # the url-bucketed table, laid out as bucketBy(BUCKETS, url) writes
        # it: one file per bucket, the bucket id in the file name
        bucket = np.array([gen.spark_bucket(u, self.BUCKETS) for u in r["url"]])
        _fresh_dir(self.location)
        os.makedirs(self.location)
        for b in range(self.BUCKETS):
            pq.write_table(tbl.filter(pa.array(bucket == b)),
                           os.path.join(self.location, f"part-00000-perfbench_{b:05d}.c000.parquet"))
        # the flagship joins against its built-in footprint set
        self.ref = ref.pages_reference(p, fixtures.footprints(120))
        _dump(os.path.join(self.cache, "ref.pkl"), self.ref)

    @property
    def location(self) -> str:
        return os.path.join(self.cache, "warehouse", self.TABLE)

    def rows(self) -> int:
        """Pages plus near-dup documents."""
        return self.ref["n_docs"] + self.dedup.rows()

    def register(self, spark) -> None:
        register_pages_bucketed(spark, self.location, table=self.TABLE, buckets=self.BUCKETS)
        self.dedup.register(spark)

    def pre_pass(self, i: int) -> str:
        return _fresh_dir(os.path.join(self.work, f"flag_ckpt_{i}"))

    def run_pass(self, spark, i: int, ck: str):
        with self.tracer.span("flagship"):
            m = run_flagship(spark, f"table:{self.TABLE}", checkpoint_path=ck)
        return {"m": m, "ckpt": ck, "dedup": self.dedup.run_pass(spark, i)}

    def check(self, spark, out) -> list[str]:
        r, m, bad = self.ref, out["m"], []
        for k in ("n_docs", "n_extracted", "corpus_chars", "n_tile_assignments", "n_tiles"):
            if int(m[k]) != r[k]:
                bad.append(f"{k}: {m[k]} != {r[k]}")
        if int(m["n_lineage_buckets"]) != len(r["lineage"]):
            bad.append("n_lineage_buckets")
        if _lineage_dict(pq.read_table(out["ckpt"])) != r["lineage"]:
            bad.append("lineage rows")
        # the corpus digest over every page's text_sha256: run_flagship
        # computes it but does not return it, so re-derive it here
        digest = prepare_corpus(spark.table(self.TABLE))["extracted"].agg(
            F.expr("bit_xor(xxhash64(text_sha256))")).collect()[0][0]
        if digest != r["corpus_digest"]:
            bad.append("corpus digest")
        shutil.rmtree(out["ckpt"], ignore_errors=True)
        return bad + self.dedup.check(spark, out["dedup"])

    def traced_pass(self, spark, tr: Tracer, i: int, ck: str):
        polys = fixtures.footprints(120)  # spatial_products fills in poly_id
        pages = spark.table(self.TABLE)
        corpus = prepare_corpus(pages)
        with tr.span("flagship.dedup"):
            deduped = _materialise(corpus["deduped"])
        with tr.span("text.extract"):
            extracted = _materialise(corpus["extracted"])
        with tr.span("spatial_join"):
            with tr.span("spatial_join.cover_build"):
                sp = spatial_products(extracted, polys)
            with tr.span("spatial_join.refine"):
                joined = _materialise(sp["joined"])
        idx = extracted.withColumn("cell_id", cells.latlng_to_cell_expr("lat", "lon", 7))
        self._pip_probe(spark, tr, idx, polys, 7)
        with tr.span("tiles"):
            n = sp["tiles"].toArrow().column("n_docs").to_pylist()
        with tr.span("lineage"):
            with tr.span("lineage.commit"):
                write_checkpoint(sp["lineage"], ck, run_id="bench")
        c = extracted.agg(F.count(F.lit(1)), F.sum(F.length("text"))).collect()[0]
        m = {"n_docs": pages.count(), "n_extracted": c[0], "corpus_chars": c[1], "n_tiles": len(n),
             "n_tile_assignments": sum(n), "n_lineage_buckets": pq.read_table(ck).num_rows}
        for df in (joined, extracted, deduped):
            df.unpersist()
        return {"m": m, "ckpt": ck, "dedup": self.dedup.traced_pass(spark, tr, i)}

    @staticmethod
    def _pip_probe(spark, tr: Tracer, idx, polys, res: int) -> None:
        """The Arrow PIP kernel alone, over the boundary candidates of the
        uncompacted cover (build_covers(compact=False) + make_pip_udf)."""
        with tr.span("spatial_join.pip"):
            cover = spark.createDataFrame(build_covers(polys, res, compact=False)).filter("is_boundary")
            pip = make_pip_udf(spark, polys)
            idx.join(F.broadcast(cover), "cell_id").filter(
                pip(F.col("lat"), F.col("lon"), F.col("poly_id"))).localCheckpoint(eager=True)

    def layer_metrics(self, tr: Tracer, log: EventLog) -> dict[str, float]:
        dd = "flagship.dedup"
        out = {
            "flagship.dedup.self_s": _self_p50(tr, dd),
            "flagship.dedup.rows_in": _per_pass(tr, log, dd, lambda l, g: _unique_sum(
                l, g, lambda n: n.name.startswith("Scan"), ROWS)),
            "flagship.dedup.rows_out": _per_pass(tr, log, dd, _rows_out),
            "flagship.dedup.shuffle_bytes": _per_pass(tr, log, dd, lambda l, g: l.groups[g].shuffle_write_bytes),
            "text.extract.self_s": _self_p50(tr, "text.extract"),
            "text.extract.html_bytes": float(self.ref["html_bytes"]),
        }
        out["text.extract.mb_per_s"] = out["text.extract.html_bytes"] / 1e6 / max(out["text.extract.self_s"], 1e-9)
        out.update(spatial_layer_metrics(tr, log))
        out.update(_lineage_metrics(tr, log, []))
        out.update(self.dedup.layer_metrics(tr, log))
        return out


def spatial_layer_metrics(tr: Tracer, log: EventLog) -> dict[str, float]:
    def bx(n):
        return n.name.startswith("BroadcastExchange")

    def bhj(n):
        return n.name.startswith("BroadcastHashJoin")

    refine, pipg = "spatial_join.refine", "spatial_join.pip"
    cand = _per_pass(tr, log, refine, lambda l, g: _unique_sum(l, g, bhj, ROWS))
    matches = _per_pass(tr, log, refine, _rows_out)
    bcand = _per_pass(tr, log, pipg, lambda l, g: _unique_sum(l, g, bhj, ROWS))
    bmatch = _per_pass(tr, log, pipg, _rows_out)
    pip_s = _self_p50(tr, pipg)
    return {
        "cells.index.self_s": _self_p50(tr, "cells.index"),
        "spatial_join.self_s": _self_p50(tr, "spatial_join") + _self_p50(tr, refine),
        "spatial_join.cover_build_s": _self_p50(tr, "spatial_join.cover_build"),
        "spatial_join.cover_rows": _per_pass(tr, log, refine, lambda l, g: _unique_sum(l, g, bx, ROWS)),
        "spatial_join.broadcast_bytes": _per_pass(tr, log, refine, lambda l, g: _unique_sum(l, g, bx, "data size")),
        "spatial_join.candidates": cand,
        "spatial_join.boundary_candidates": bcand,
        "spatial_join.matches": matches,
        "spatial_join.amplification": cand / matches if matches else 0.0,
        "spatial_join.pip_keep_ratio": bmatch / bcand if bcand else 0.0,
        "spatial_join.pip.self_s": pip_s,
        "spatial_join.pip.rows_per_s": bcand / pip_s if pip_s else 0.0,
        "tiles.self_s": _self_p50(tr, "tiles"),
    }


# ---------------------------------------------------------------------------
# points_spatial
# ---------------------------------------------------------------------------


class PointsSpatial(Workload):
    name = "points_spatial"
    K = 5

    def prepare(self) -> None:
        rp = os.path.join(self.cache, "ref.pkl")
        if os.path.exists(rp):
            self.ref, self.polys = _load(rp)
            return
        os.makedirs(self.cache, exist_ok=True)
        s = gen.spatial(self.seed, self.sz["points"], self.sz["polygons"], self.sz["queries"])
        pq.write_table(pa.table({"point_id": s["point_id"], "lat": s["lat"], "lon": s["lon"]}),
                       os.path.join(self.cache, "points.parquet"), row_group_size=8192)
        pq.write_table(pa.table({"query_id": s["query_id"], "qlat": s["qlat"], "qlon": s["qlon"]}),
                       os.path.join(self.cache, "queries.parquet"))
        self.polys = s["polygons"]
        self.ref = ref.spatial_reference(s, self.K)
        self.ref["n_points"] = len(s["point_id"])
        self.ref["n_queries"] = len(s["query_id"])
        _dump(rp, (self.ref, self.polys))

    @property
    def base_ckpt(self) -> str:
        return os.path.join(self.cache, "base_ckpt")

    def prepare_spark(self, spark) -> None:
        """The checkpoint every pass resumes from: the reference lineage rows
        of the buckets divisible by 3, committed atomically."""
        _fresh_dir(self.base_ckpt)
        rows = [(b, *v) for b, v in sorted(self.ref["lineage"].items()) if b % 3 == 0]
        done = spark.createDataFrame(rows, "bucket long, cell_min long, cell_max long, row_count long, checksum long")
        write_checkpoint(done, self.base_ckpt, run_id="base", atomic=True)

    def rows(self) -> int:
        return self.ref["n_points"]

    def register(self, spark) -> None:
        self.points = spark.read.parquet(os.path.join(self.cache, "points.parquet"))
        self.queries = spark.read.parquet(os.path.join(self.cache, "queries.parquet"))

    def _joined(self, spark):
        idx = self.points.withColumn("cell_id", cells.latlng_to_cell_expr("lat", "lon", gen.SPATIAL_RES))
        return spatial_join(idx, self.polys, res=gen.SPATIAL_RES, keep_cols=["point_id", "cell_id"],
                            strategy="broadcast")

    @staticmethod
    def _lineage_src(joined):
        bucket = F.pmod(cells.cell_parent_expr("cell_id", gen.SPATIAL_RES, ref.LIN_RES), F.lit(ref.LIN_BUCKETS))
        return joined.select(bucket.alias("bucket"), "cell_id", "point_id",
                             F.col("poly_id").cast("long").alias("poly_num"))

    def _ckpt_copy(self, i: int) -> str:
        ck = _fresh_dir(os.path.join(self.work, f"pts_ckpt_{i}"))
        shutil.copytree(self.base_ckpt, ck)
        return ck

    def pre_pass(self, i: int) -> str:
        return self._ckpt_copy(i)

    def _knn(self):
        return knn_kring(self.points, self.queries, res=gen.KNN_RES, k_ring=1, k=self.K,
                         point_id_col="point_id").toArrow()

    def run_pass(self, spark, i: int, ck: str):
        joined = self._joined(spark).persist()
        jrows = joined.toArrow()
        pyr = tile_pyramid(joined, res_fine=gen.SPATIAL_RES, res_coarse=gen.SPATIAL_RES - 3).toArrow()
        _lin, n_skip = run_with_resume(self._lineage_src(joined), "bucket", ck, run_id=f"pass{i}")
        knn = self._knn()
        joined.unpersist()
        return {"join": jrows, "pyramid": pyr, "skip": n_skip, "knn": knn, "ckpt": ck}

    def check(self, spark, out) -> list[str]:
        r, bad = self.ref, []
        j = out["join"]
        got = np.sort(np.rec.fromarrays(
            [j.column("point_id").to_numpy(), np.asarray(j.column("poly_id").to_pylist(), dtype=np.int64)],
            names="p,poly"), order=["p", "poly"])
        if not np.array_equal(got, r["join"]):
            bad.append("join rows")
        py = out["pyramid"].to_pydict()
        if {(int(a), int(b)): (int(c), int(d)) for a, b, c, d in zip(
                py["res"], py["cell_id"], py["n_events"], py["n_fine_cells"])} != r["pyramid"]:
            bad.append("tile pyramid")
        lin = read_checkpoint(spark, out["ckpt"]).select("bucket", "cell_min", "cell_max", "row_count", "checksum")
        if _lineage_dict(lin.toArrow()) != r["lineage"]:
            bad.append("lineage rows")
        if out["skip"] != sum(1 for b in r["lineage"] if b % 3 == 0):
            bad.append("lineage buckets skipped")
        k = out["knn"].to_pydict()
        got_k = sorted(zip(k["query_id"], k["rank"], k["point_id"], k["dist_m"]))
        want = r["knn"]
        if len(got_k) != len(want) or any(
            (q, p, rk) != (int(w["q"]), int(w["p"]), int(w["rank"])) or abs(d - w["d"]) > 2e-3
            for (q, rk, p, d), w in zip(got_k, want)
        ):
            bad.append("knn rows")
        shutil.rmtree(out["ckpt"], ignore_errors=True)
        return bad

    def traced_pass(self, spark, tr: Tracer, i: int, ck: str):
        with tr.span("cells.index"):
            idx = self.points.withColumn(
                "cell_id", cells.latlng_to_cell_expr("lat", "lon", gen.SPATIAL_RES)).localCheckpoint(eager=True)
        with tr.span("spatial_join"):
            with tr.span("spatial_join.cover_build"):
                jdf = spatial_join(idx, self.polys, res=gen.SPATIAL_RES, keep_cols=["point_id", "cell_id"],
                                   strategy="broadcast")
            with tr.span("spatial_join.refine"):
                joined = jdf.localCheckpoint(eager=True)
        PagesNearDup._pip_probe(spark, tr, idx, self.polys, gen.SPATIAL_RES)
        with tr.span("tiles"):
            jrows = joined.toArrow()
            pyr = tile_pyramid(joined, res_fine=gen.SPATIAL_RES, res_coarse=gen.SPATIAL_RES - 3).toArrow()
        with tr.span("lineage"):
            _lin, n_skip = run_with_resume(self._lineage_src(joined), "bucket", ck, run_id=f"pass{i}")
        self.skipped.append(n_skip)
        with tr.span("knn"):
            knn = self._knn()
        return {"join": jrows, "pyramid": pyr, "skip": n_skip, "knn": knn, "ckpt": ck}

    def layer_metrics(self, tr: Tracer, log: EventLog) -> dict[str, float]:
        out = spatial_layer_metrics(tr, log)
        lm = _lineage_metrics(tr, log, self.skipped)
        # the commit is the write execution inside run_with_resume
        lm["lineage.commit_s"] = _per_pass(tr, log, "lineage", lambda l, g: sum(
            l.exec_dur.get(e, 0.0) for e in l.groups[g].executions
            if any(_write_nodes(n) for n in l.plans.get(e, []))))
        out.update(lm)

        def inner_bhj(n):
            return n.name.startswith("BroadcastHashJoin") and "Inner" in n.desc

        cand = _per_pass(tr, log, "knn", lambda l, g: _unique_sum(l, g, inner_bhj, ROWS))
        out.update({
            "knn.self_s": _self_p50(tr, "knn"),
            "knn.rounds": _per_pass(tr, log, "knn", _knn_rounds),
            "knn.jobs": _per_pass(tr, log, "knn", lambda l, g: l.groups[g].jobs),
            "knn.candidates": cand,
            "knn.candidates_per_result": cand / (self.ref["n_queries"] * self.K),
        })
        return out


# ---------------------------------------------------------------------------
# the near-duplicate part of pages_neardup
# ---------------------------------------------------------------------------


class NearDup(Workload):
    """Registry near-duplicate queries over a generated ``documents``
    corpus with planted clusters."""

    name = "neardup"
    QUERIES = ("fuzzy_match",)

    def prepare(self) -> None:
        rp = os.path.join(self.cache, "ref.pkl")
        if os.path.exists(rp):
            self.ref = _load(rp)
            return
        os.makedirs(self.docs_dir, exist_ok=True)
        d = gen.documents(self.seed, self.sz["docs"], self.sz["clusters"])
        path = os.path.join(self.docs_dir, "documents.parquet")
        pq.write_table(pa.table({"doc_id": d["doc_id"], "text": d["text"], "lang": d["lang"],
                                 "source": d["source"], "n_chars": d["n_chars"]}), path)
        self.ref = {
            "n_docs": len(d["doc_id"]),
            "fuzzy_match": ref.fuzzy_pairs(path, REGISTRY["fuzzy_match"][1]),
        }
        _dump(rp, self.ref)

    @property
    def docs_dir(self) -> str:
        return os.path.join(self.cache, "docs")

    def rows(self) -> int:
        return self.ref["n_docs"]

    def register(self, spark) -> None:
        spark.read.parquet(os.path.join(self.docs_dir, "documents.parquet")).schema

    def run_pass(self, spark, i: int, _arg=None):
        return {q: REGISTRY[q][0](spark, self.docs_dir).toArrow() for q in self.QUERIES}

    def check(self, spark, out) -> list[str]:
        bad = []
        for q in self.QUERIES:
            got = sorted(tuple(r.values()) for r in out[q].to_pylist())
            want = self.ref[q]
            if len(got) != len(want) or any(
                g[:2] != w[:2] or any(not _close(float(x), float(y)) for x, y in zip(g[2:], w[2:]))
                for g, w in zip(got, want)
            ):
                bad.append(q)
        return bad

    def traced_pass(self, spark, tr: Tracer, i: int, _arg=None):
        out = {}
        for q in self.QUERIES:
            with tr.span(f"dedup.{q}"):
                out[q] = REGISTRY[q][0](spark, self.docs_dir).toArrow()
        return out

    def layer_metrics(self, tr: Tracer, log: EventLog) -> dict[str, float]:
        out, cand, pairs, amp = {}, 0.0, 0.0, 0.0
        for q in self.QUERIES:
            name = f"dedup.{q}"
            out[f"{name}.self_s"] = _self_p50(tr, name)
            c = _per_pass(tr, log, name, _deepest_join_rows)
            p = float(len(self.ref[q]))
            cand += c
            pairs += p
            amp = max(amp, _per_pass(tr, log, name, _max_rows) / max(p, 1.0))
        out.update({
            "dedup.candidates": cand,
            "dedup.pairs_out": pairs,
            "dedup.verify_keep_ratio": pairs / cand if cand else 0.0,
            "dedup.amplification": amp,
        })
        return out


WORKLOADS = {w.name: w for w in (PagesNearDup, PointsSpatial)}
