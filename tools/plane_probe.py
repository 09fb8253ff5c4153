"""Measured throughput ceiling of the object-store data plane
(operators/objstore_plane.py) through the in-process S3 emulator —
the committed-number twin of the PNG codec ceiling
(operators/imagecodec.py:111-130): the plane is the declared
production seam for connector-less object stores, so its measured
ceiling belongs next to its design claim.

What is measured (single partition = ONE task, so MB/s is per task;
signed traffic, the real path):

* write MB/s at the seam's multipart part size (``fsio.task_files``:
  8 MiB parts) over incompressible data — parquet-encode through the
  engine's sink stage + SigV4-sign + HTTP PUT parts;
* whole-object read MB/s — HTTP GET + parquet-decode;
* ranged projected read (2 of 20 columns): bytes actually served vs
  the whole objects, the column-pruning economics counter.

CAVEAT (same as q189's bench note): the emulator serves every byte
from a single in-process Python HTTP server, so these numbers measure
the emulator's ceiling as much as the plane's — treat them as the
sandbox floor, not the s3a-parity number. Against real S3 the wire
and service parallelism replace the emulator bottleneck and the
plane's own cost is the pyarrow encode/decode visible here.

Usage: python tools/plane_probe.py [--mb=48] [--out=append to SCALING.md]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

MB = 1024 * 1024
SIGV4_CREDS = ("AKIDEXAMPLE", "wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY")


def main() -> None:
    target_mb = 48
    out_path = None
    for a in sys.argv[1:]:
        if a.startswith("--mb="):
            target_mb = int(a.split("=", 1)[1])
        elif a.startswith("--out="):
            out_path = a.split("=", 1)[1]

    from pyspark.sql import functions as F

    from dataflowtemplates_spark.operators import fsio
    from dataflowtemplates_spark.operators import objstore_plane as op
    from dataflowtemplates_spark.operators.s3http import S3HttpBackend
    from dataflowtemplates_spark.session import build_session
    from dataflowtemplates_spark.testing.s3_emulator import S3Emulator
    from pyspark.sql import types as T

    spark = build_session("plane_probe")
    emu = S3Emulator().start()
    emu.require_sigv4 = SIGV4_CREDS
    backend = S3HttpBackend(emu.endpoint, timeout_s=30.0,
                            credentials=SIGV4_CREDS)
    fsio.register_object_backend("s3probe", backend)
    results: dict[str, float] = {}
    try:
        # 20 incompressible 128-hex-char columns -> ~2.5 KB/row; rows
        # sized so the dataset is ~target_mb of parquet bytes
        n_cols = 20
        rows = int(target_mb * MB / (n_cols * 128))
        cols = [F.sha2(F.concat(F.col("id").cast("string"),
                                F.lit(str(k))), 512).alias(f"c{k}")
                for k in range(n_cols)]
        df = (spark.range(0, rows)
              .select(F.col("id"), *cols)
              .withColumn("kb", F.lit(0))
              .repartition(1, F.col("kb"))
              .sortWithinPartitions("id")
              .localCheckpoint(eager=True))  # exclude gen cost

        schema = T.StructType(
            [T.StructField("id", T.LongType())]
            + [T.StructField(f"c{k}", T.StringType())
               for k in range(n_cols)])

        # warmup: the first task pays Python-worker spinup + arrow/JIT
        # costs that would bias the timed write
        warm = op.write_partitioned(df, "s3probe://bkt/warm", "kb")
        op.read_parquet(spark, list(warm.sizes.items()), schema,
                        backend).count()

        t0 = time.monotonic()
        res = op.write_partitioned(df, "s3probe://bkt/w", "kb")
        dt = time.monotonic() - t0
        # the (object, bytes) pairs a commit entry would record
        objects = list(res.sizes.items())
        nbytes = sum(n for _, n in objects)
        results["write_MBps"] = nbytes / MB / dt
        results["object_MB"] = nbytes / MB

        # whole-object read (all columns)
        t0 = time.monotonic()
        got = op.read_parquet(spark, objects, schema, backend).count()
        dt = time.monotonic() - t0
        assert got == rows
        results["read_full_MBps"] = results["object_MB"] / dt

        # ranged projected read: 2 of 20 columns
        emu.object_get_bytes = 0
        t0 = time.monotonic()
        got = op.read_parquet(spark, objects, schema, backend,
                              columns=["id", "c3"]).count()
        dt = time.monotonic() - t0
        assert got == rows
        results["read_proj2of20_s"] = dt
        results["read_proj2of20_bytes_served_MB"] = \
            emu.object_get_bytes / MB
        results["proj_byte_reduction_x"] = (
            results["object_MB"] * MB / emu.object_get_bytes)
    finally:
        fsio.unregister_object_backend("s3probe")
        emu.stop()
        spark.stop()

    line = json.dumps({k: round(v, 2) for k, v in results.items()})
    print(line)
    if out_path:
        with open(out_path, "a") as fh:
            fh.write(line + "\n")


if __name__ == "__main__":
    main()
