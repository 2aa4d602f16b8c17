"""TableIO seam: Iceberg when the runtime has it, partitioned Parquet
otherwise — engine logic is format-agnostic (SURVEY §7).

Iceberg adds snapshot ids (run identity) and metadata tables; the
Parquet fallback preserves the partition semantics (directory
partitioning by the same column), so every operator behaves identically.
The sandbox has no Iceberg runtime jar, so the fallback is the tested
path; on a real cluster ``format='iceberg'`` activates transparently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def get_byte_units(size_bytes: int) -> str:
    """Human-readable size, byte-identical format to the reference's
    get_byte_units (src/schema_validata.py:164-186): '1.5 : KB'."""
    import math
    if size_bytes == 0:
        return "0 : B"
    size_name = ("B", "KB", "MB", "GB", "TB", "PB", "EB", "ZB", "YB")
    i = int(math.floor(math.log(size_bytes, 1000)))
    p = math.pow(1000, i)
    s = round(size_bytes / p, 2)
    return f"{s} : {size_name[i]}"


def get_md5_hash(file_path: str) -> str:
    """MD5 of a file's bytes — the reference's run-identity component
    (src/schema_validata.py:190-213, same 8 KiB chunking)."""
    import hashlib
    with open(file_path, "rb") as fh:
        h = hashlib.md5()
        while True:
            chunk = fh.read(8192)
            if not chunk:
                break
            h.update(chunk)
    return h.hexdigest()


def get_spreadsheet_metadata(file_path: str) -> dict:
    """FILE-level metadata twin of the reference's
    ``get_spreadsheet_metadata`` (src/schema_validata.py:223-277): one
    entry per sheet (CSV key = file base name, :774) with the same keys
    and string formatting — file path/name/type, thousands-separated
    sizes and counts, byte-unit string, content MD5, created/modified
    ISO stamps. The reference report's ``uid`` is
    ``{dataset file_md5_hash}_{data dict file_md5_hash}`` (:2680);
    this twin lets the engine reproduce that identity exactly.

    Driver-side stdlib I/O (csv module / sources.xlsx OOXML reader) —
    these are config-sized authoring files, never the 100-TB table
    (which goes through TableIO.metadata instead)."""
    import csv
    import os
    from datetime import datetime

    filename = os.path.basename(file_path)
    base_name, ext = os.path.splitext(filename)
    statinfo = os.stat(file_path)
    create_date = datetime.fromtimestamp(statinfo.st_ctime).isoformat()
    modified_date = datetime.fromtimestamp(statinfo.st_mtime).isoformat()

    sheets: dict[str, tuple[int, int]] = {}   # name -> (rows, cols)
    if ext.lower() == ".csv":
        from .readers import detect_file_encoding
        enc = detect_file_encoding(file_path)
        with open(file_path, newline="", encoding=enc) as fh:
            # pandas read_csv (skip_blank_lines=True, the reference's
            # reader) drops empty and whitespace-only lines; csv.reader
            # yields them as [] / ['   ']. A quoted empty field ('""')
            # is a record in both.
            rows = [r for r in csv.reader(fh)
                    if r and not (len(r) == 1 and r[0] and not r[0].strip())]
        n_cols = len(rows[0]) if rows else 0
        sheets[base_name] = (max(0, len(rows) - 1), n_cols)
    else:
        from .xlsx import read_xlsx
        for name, rows in read_xlsx(file_path).items():
            n_cols = len(rows[0]) if rows else 0
            sheets[name] = (max(0, len(rows) - 1), n_cols)

    file_hash = get_md5_hash(file_path)
    out = {}
    for name, (n_rows, n_cols) in sheets.items():
        out[name] = {
            "file_path": file_path,
            "file_name": filename,
            "file_type": ext,
            "file_size_bytes": f"{statinfo.st_size:,}",
            "file_size_memory_unit": get_byte_units(int(statinfo.st_size)),
            "record_qty": f"{n_rows:,}",
            "column_qty": f"{n_cols:,}",
            "file_md5_hash": file_hash,
            "created": create_date,
            "modified": modified_date,
        }
    return out


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource")
        return True
    except Exception:
        return False


class TableIO:
    def __init__(self, spark: SparkSession, use_iceberg: bool | None = None):
        self.spark = spark
        self.use_iceberg = (iceberg_available(spark)
                            if use_iceberg is None else use_iceberg)

    def read(self, identifier: str) -> DataFrame:
        """identifier: catalog table name (iceberg) or path (parquet)."""
        if self.use_iceberg and not identifier.startswith("/"):
            return self.spark.read.table(identifier)
        return self.spark.read.parquet(identifier)

    def write(self, df: DataFrame, identifier: str,
              partition_by: list[str] | None = None,
              mode: str = "overwrite") -> None:
        if self.use_iceberg and not identifier.startswith("/"):
            w = df.writeTo(identifier)
            if mode == "append":
                w.append()
            else:
                w.createOrReplace()
            return
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(identifier)

    def metadata(self, identifier: str) -> dict:
        """Table metadata — the reference's get_spreadsheet_metadata
        analog (src/schema_validata.py:223-277): row/column counts,
        schema hash (run identity component) and, when Iceberg is
        active, the snapshot id. One count job; no data collected."""
        import hashlib
        df = self.read(identifier)
        schema_str = df.schema.simpleString()
        return {
            "identifier": identifier,
            "row_count": df.count(),
            "column_count": len(df.columns),
            "schema": schema_str,
            "schema_md5": hashlib.md5(schema_str.encode()).hexdigest(),
            "snapshot_id": self.snapshot_id(identifier),
        }

    def snapshot_id(self, identifier: str) -> str | None:
        """Iceberg snapshot id for run identity; None on parquet."""
        if not self.use_iceberg:
            return None
        try:
            row = self.spark.sql(
                f"SELECT snapshot_id FROM {identifier}.snapshots "
                "ORDER BY committed_at DESC LIMIT 1").collect()
            return str(row[0][0]) if row else None
        except Exception:
            return None


def write_bucketed(df: DataFrame, table_name: str, bucket_cols: list[str],
                   n_buckets: int, sort_cols: list[str] | None = None,
                   mode: str = "overwrite",
                   file_format: str = "parquet") -> None:
    """Persist a table hash-bucketed on its join/aggregation key so
    later equi-joins and groupBys on that key read co-located buckets
    and SKIP the shuffle entirely — the storage-side half of the 100 TB
    join story (the other half, runtime broadcast/AQE, is automatic).
    Two fact tables bucketed with the SAME (cols, n_buckets) sort-merge
    join with zero Exchange; adding ``sort_cols`` lets Spark skip the
    per-bucket sort too when each bucket is a single file.

    Spark's bucketing requires a managed table (saveAsTable) — plain
    ``.parquet(path)`` silently drops bucket metadata. At 100 TB pick
    n_buckets so one bucket ≈ a few executor-memory-sized partitions
    (e.g. 4,096 buckets for a 10 TB fact table); the Iceberg analog is
    a ``bucket(N, col)`` partition transform on the same key.
    """
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    if not bucket_cols:
        raise ValueError("bucket_cols must be non-empty")
    w = (df.write.mode(mode).format(file_format)
           .bucketBy(n_buckets, *bucket_cols))
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def bucketed_join(spark: SparkSession, left_table: str, right_table: str,
                  on: list[str], how: str = "inner") -> DataFrame:
    """Join two tables previously written by ``write_bucketed`` on
    their shared bucket key. When both sides were bucketed with the
    same key and bucket count this plans as a zero-Exchange sort-merge
    join (guarded by tests/test_round3k_ops.py); otherwise it's an
    ordinary join and AQE decides. Broadcast is deliberately not
    forced — if one side is small the optimizer will broadcast anyway,
    and at fact×fact scale the bucket co-location IS the plan."""
    return spark.read.table(left_table).join(
        spark.read.table(right_table), on=on, how=how)
