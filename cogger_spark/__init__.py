"""cogger_spark — a PySpark-native spatial-join + tiling engine.

Reproduces the semantics of the reference COG rewriter (airbusgeo/cogger)
as a Spark-first engine over a parquet table of image+caption pairs,
extended with H3/S2-style spatial joins, dedup / similarity /
text-analysis operators for large-scale training-data pipelines, and a
CLI whose convert resumes from the files it committed.

Layout:
    tiff/       pure-Python TIFF/COG codec (byte-exact vs reference goldens)
    planner/    strip / overview-pyramid / DAG planning (stripper.go semantics)
    functions/  vectorized NumPy kernels: cell index, image codecs, geo frame
    operators/  DataFrame-level operators: tiling, assembly, spatial joins,
                dedup, similarity, text, COG reading
    sources/    .tif directory source and executor-side file sink
"""

__version__ = "0.1.0"
