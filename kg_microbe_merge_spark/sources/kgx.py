"""KGX TSV sources and sinks.

Reference behavior reproduced (SURVEY.md §2 S1-S3):
- S1/S2 multi-file load with schema alignment: the reference probes each
  file's header and NULL-pads missing columns
  (utils/duckdb_utils.py:215-264; the union loop there is buggy — the
  effective schema is the *last* file's header — we implement the
  documented intent, a true union of columns, via
  ``unionByName(allowMissingColumns=True)``).
- Optional column exclusion (the uuid ``id`` edge column,
  utils/duckdb_utils.py:432).
- S3 TSV sink with header (utils/duckdb_utils.py:190-212).

Scale notes: each file is read with an explicit all-string schema (no
inference pass over 100 TB); Spark parallelizes within files by split,
so N files → max(N, size/maxPartitionBytes) tasks. Catalyst prunes
columns at the CSV scan when downstream selects a subset. For production
scale the merged graph is materialized as partitioned parquet (columnar,
splittable); single-file TSV exists only for golden-test compatibility.
"""

from __future__ import annotations

import csv
import io
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _probe_header(spark: SparkSession, path: str) -> list[str]:
    """Read just the header line of one TSV (driver-side, O(1) bytes) —
    the Spark analogue of the reference's ``LIMIT 0`` probe
    (utils/duckdb_utils.py:232). Local paths read the first line
    directly (no Spark job per file — with thousands of source files
    the per-file job launch would dominate); a local part directory
    (a distributed TSV sink's output, every part file headed) is probed
    through its first ``part-*`` file. Non-local URIs fall back to a
    1-partition textFile."""
    import glob
    import os

    local = path[7:] if path.startswith("file://") else path
    if os.path.isdir(local):
        parts = sorted(glob.glob(os.path.join(local, "part-*")))
        if not parts:
            raise ValueError(f"KGX TSV directory has no part files: {path}")
        local = parts[0]
    if os.path.exists(local):
        with open(local, newline="") as f:
            line = f.readline().rstrip("\r\n")
    else:
        line = spark.sparkContext.textFile(path, 1).first()
    if not line:
        raise ValueError(f"empty or headerless KGX TSV: {path}")
    return next(csv.reader(io.StringIO(line), delimiter="\t"))


def read_kgx_tsv(
    spark: SparkSession,
    paths: list[str],
    exclude_columns: list[str] | None = None,
    source_table_labels: list[str] | None = None,
) -> DataFrame:
    """Load N KGX TSV files into one all-string DataFrame, aligning
    differing headers by NULL-padding (true union-of-columns semantics).

    ``source_table_labels`` optionally stamps a provenance column
    ``source_table`` per input file (reference F4: ALTER TABLE + UPDATE,
    utils/duckdb_utils.py:35-44 — here a free literal column).
    """
    from pyspark.sql import functions as F

    exclude = set(exclude_columns or [])

    # Group files by identical header: ONE csv scan per header group
    # instead of one DataFrame per file. With thousands of source files
    # a per-file unionByName chain makes the logical plan (and Catalyst
    # analysis time) O(files); grouped, it is O(distinct headers).
    groups: dict[tuple[str, ...], list[int]] = {}
    headers: list[list[str]] = []
    for i, path in enumerate(paths):
        header = _probe_header(spark, path)
        headers.append(header)
        groups.setdefault(tuple(header), []).append(i)

    dfs = []
    for header_t, idxs in groups.items():
        header = list(header_t)
        schema = T.StructType([T.StructField(c, T.StringType(), True) for c in header])
        group_paths = [paths[i] for i in idxs]
        df = (
            spark.read.options(sep="\t", header=True, mode="PERMISSIVE")
            .schema(schema)
            .csv(group_paths)
        )
        keep = [c for c in header if c not in exclude]
        df = df.select(*keep)
        if source_table_labels is not None:
            if len(idxs) == 1:
                df = df.withColumn(
                    "source_table", F.lit(source_table_labels[idxs[0]])
                )
            else:
                # per-file label: input_file_name() (a URI like
                # file:///abs/path) matched by '/' + normalized ABSOLUTE
                # path, so the suffix is anchored at a path-component
                # boundary — 'b_nodes.tsv' can never mislabel rows of
                # 'ab_nodes.tsv' (scheme-independent, unique per file)
                import os as _os

                def _anchor(p: str) -> str:
                    local = p[7:] if p.startswith("file://") else p
                    return "/" + _os.path.abspath(local).lstrip("/")

                label = F.lit(source_table_labels[idxs[0]])
                for i in idxs[1:]:
                    label = F.when(
                        F.input_file_name().endswith(_anchor(paths[i])),
                        F.lit(source_table_labels[i]),
                    ).otherwise(label)
                df = df.withColumn("source_table", label)
        dfs.append(df)
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)


def write_tsv_single(df: DataFrame, output_file: str, columns: list[str] | None = None) -> None:
    """Golden-test-compatible single-file TSV sink with header.

    Collects through pandas on the driver — ONLY for small golden-file
    outputs; production outputs use :func:`write_parquet`.
    """
    pdf = df.toPandas()
    if columns:
        pdf = pdf[columns]
    pdf.to_csv(output_file, sep="\t", header=True, index=False)


def write_tsv_dir(df: DataFrame, output_dir: str) -> None:
    """Distributed TSV sink (directory of part files) — the scale path
    for TSV-format interchange."""
    df.write.mode("overwrite").options(sep="\t", header=True).csv(output_dir)


def write_parquet(df: DataFrame, output_dir: str) -> None:
    """Columnar materialization (the production sink). It overwrites
    ``output_dir`` in place, without the versioned commit of
    ``plans/pipeline.py``, so a killed write leaves a partial directory.
    Iceberg would be ``df.writeTo(table).using("iceberg")``; the Iceberg
    runtime jar is not in this image."""
    df.write.mode("overwrite").parquet(output_dir)
