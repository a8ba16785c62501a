"""Micro-batch test harness: feed event files into a file-source stream one
micro-batch at a time and observe emitted results — the only way to test
watermark/late-data semantics (``q_stream_late``), since batch mode cannot
drop late rows.
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Callable, Sequence

from pyspark.sql import DataFrame, Row, SparkSession

from bossarrowstorageengine_spark.sources.arrowipc import commit_backend
from bossarrowstorageengine_spark.streaming.pipelines import EVENTS_SCHEMA


class FileStreamHarness:
    """Drives a ``readStream`` file source micro-batch by micro-batch.

    Usage::

        h = FileStreamHarness(spark, build=tumbling_counts, mode="append")
        h.push(batch1_rows); out1 = h.step()
        h.push(late_rows);   out2 = h.step()
        h.stop()
    """

    def __init__(self, spark: SparkSession,
                 build: Callable[[DataFrame], DataFrame],
                 mode: str = "append",
                 schema: str = EVENTS_SCHEMA):
        self.spark = spark
        self.input_dir = f"/tmp/spark_graft_stream/{uuid.uuid4().hex}"
        os.makedirs(self.input_dir, exist_ok=True)
        self._n = 0
        self.sink = f"mem_{uuid.uuid4().hex[:12]}"
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(self.input_dir)
        )
        self.query = (
            build(src)
            .writeStream.format("memory")
            .queryName(self.sink)
            .outputMode(mode)
            .trigger(processingTime="100 milliseconds")
            .start()
        )

    def push(self, rows: Sequence[dict]) -> None:
        """Write one JSON-lines file = one future micro-batch.  ``ts`` may
        be a string ('2024-01-01 00:10:00') or datetime."""
        import pandas as pd

        pdf = pd.DataFrame(list(rows))
        pdf["ts"] = pd.to_datetime(pdf["ts"]).dt.strftime("%Y-%m-%dT%H:%M:%S.%f")
        commit_backend().put(
            os.path.join(self.input_dir, f"batch{self._n}.json"),
            pdf.to_json(orient="records", lines=True).encode())
        self._n += 1

    def step(self, timeout_sec: float = 60.0) -> DataFrame:
        """Block until the stream has consumed everything pushed so far,
        then return the current content of the memory sink."""
        import time

        deadline = time.time() + timeout_sec
        while time.time() < deadline:
            self.query.processAllAvailable()
            progress = self.query.lastProgress
            if progress is not None:
                break
            time.sleep(0.1)
        return self.spark.table(self.sink)

    def stop(self) -> None:
        try:
            self.query.stop()
        finally:
            shutil.rmtree(self.input_dir, ignore_errors=True)
