"""copernicusdata_jl_spark — a from-scratch PySpark-native spatial-join +
tiling engine with the query/data-processing capabilities of
``vlevasseur073/CopernicusData.jl`` (reference at /root/reference, read-only).

Architecture (Spark-first, NOT a port):

- **Data model**: the reference's hierarchical chunked-array tree
  (``YAXTree``, reference src/YAXTrees.jl:29-36) becomes a namespace of
  columnar DataFrames (:mod:`.sources.datatree`); per-pixel geolocation arrays
  (reference docs/src/examples.md:44-46) become plain ``lat``/``lon``
  columns feeding cell indexing.
- **Cell index**: a deterministic equirectangular quadtree ("EQC grid",
  :mod:`.functions.cells`) standing in for H3/S2 — ``latlng_to_cell_expr`` is a
  pure Catalyst column expression (floor arithmetic → whole-stage codegen,
  no UDF), with NumPy twins for driver-side polygon covers.
- **Spatial join**: compacted polygon covers → broadcast / cell-ID
  sort-merge equi-join → exact ray-cast point-in-polygon refinement as an
  Arrow-batched pandas UDF (:mod:`.operators.spatial_join`).
- **Lineage/resume**: per-partition (cell range, row count, checksum)
  checkpoint rows + anti-join resume (:mod:`.operators.lineage`), realizing the
  reference payload's declared ``breakpoints`` block
  (reference test/resources/payload.toml:5-9, src/EOTriggering.jl:11-16).
- **Orchestration**: TOML payload → staged DataFrame pipeline
  (:mod:`.plans.payload`), mirroring ``EOTriggering.run``
  (reference src/EOTriggering.jl:83-195).
"""

__version__ = "0.1.0"
