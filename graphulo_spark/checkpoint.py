"""Per-superstep checkpoint / resume with lineage metadata and per-partition metrics.

Graphulo's recovery machinery (RemoteWriteIterator numEntriesCheckpoint
monitoring entries + tear-down re-seek recovery, skvi/RemoteWriteIterator.java:
153,441-453,560-568) recovers *within* one scan. Spark's task retry subsumes
that; what the engine adds (SURVEY.md §4 checkpoint row) is *superstep* resume:
every iteration's state lands in parquet with a manifest carrying

- superstep number, algorithm params hash — including an *input fingerprint*
  (row count + content hash of the edge table), so a resume against changed
  input refuses instead of silently continuing from stale state,
- partitioner spec (how the state was laid out — survives repartitioning),
- per-partition metrics (rows + bytes per written file, from parquet footers),
- lineage (parent superstep, wall time).

A superstep directory is valid only when its ``_MANIFEST.json`` exists — the
manifest is written *after* the parquet commit, so a killed run leaves at most
one incomplete directory which resume ignores.

All filesystem access goes through the Hadoop FileSystem API
(``spark._jvm.org.apache.hadoop.fs``), never ``os``/``shutil`` — a
``checkpoint_dir`` on HDFS/S3/GCS works the same as a local path, which is
what a `spark-submit --py-files` cluster deploy needs. Parquet footer row
counts are read driver-side through parquet-hadoop (on Spark's classpath), so
the per-partition metrics cost zero extra Spark jobs per superstep.

The iterative algorithms deliberately *read state back from the checkpoint*
each superstep instead of chaining DataFrame lineage: that truncates lineage
(Graphulo's temp-table ping-pong, Graphulo.java:2131-2208) and makes an
interrupted-then-resumed run byte-identical to an uninterrupted one — both
execute every superstep from the same on-disk input.
"""

from __future__ import annotations

import hashlib
import json
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_MANIFEST.json"
RUN_MANIFEST = "_RUN.json"
SIDE_DIR = "side"  # engine-owned side-input tables live under run_dir/side/


def _params_hash(params: dict[str, Any]) -> str:
    return hashlib.sha256(json.dumps(params, sort_keys=True, default=str).encode()).hexdigest()[:16]


def input_fingerprint(df: DataFrame, *cols: str) -> str:
    """Order-independent content fingerprint of (a projection of) a DataFrame:
    row count + sum-of-xxhash64 over the named columns. One parallel pass at
    run setup — the price of refusing to resume against changed input."""
    use = list(cols) if cols else df.columns
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        # sum in unbounded decimal: ANSI mode would throw on bigint overflow
        F.sum(F.xxhash64(*use).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return f"n={row['n']},h={row['h']}"


class HadoopFS:
    """Thin py4j wrapper over org.apache.hadoop.fs.FileSystem for one scheme."""

    def __init__(self, spark: SparkSession, path: str):
        jvm = spark._jvm
        self._jvm = jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        self._hconf = spark._jsc.hadoopConfiguration()
        self.fs = self._Path(path).getFileSystem(self._hconf)

    def path(self, p: str):
        return self._Path(p)

    def exists(self, p: str) -> bool:
        return self.fs.exists(self.path(p))

    def mkdirs(self, p: str) -> None:
        self.fs.mkdirs(self.path(p))

    def delete(self, p: str) -> None:
        if self.exists(p):
            self.fs.delete(self.path(p), True)

    def listdir(self, p: str) -> list[str]:
        if not self.exists(p):
            return []
        return [st.getPath().getName() for st in self.fs.listStatus(self.path(p))]

    def file_sizes(self, p: str) -> dict[str, int]:
        return {
            st.getPath().getName(): st.getLen()
            for st in self.fs.listStatus(self.path(p))
            if st.isFile()
        }

    def write_text(self, p: str, text: str) -> None:
        """Write-then-rename so readers never see a partial file."""
        tmp = p + ".tmp"
        out = self.fs.create(self.path(tmp), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        self.delete(p)  # HDFS rename does not overwrite
        self.fs.rename(self.path(tmp), self.path(p))

    def read_text(self, p: str) -> str:
        stream = self.fs.open(self.path(p))
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()

    def parquet_rows(self, p: str) -> int | None:
        """Row count from the file's parquet footer via parquet-hadoop —
        driver-side metadata read, no Spark job, any Hadoop scheme."""
        try:
            jvm = self._jvm
            infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                self.path(p), self._hconf
            )
            reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
            try:
                return reader.getRecordCount()
            finally:
                reader.close()
        except Exception:
            return None


class SuperstepCheckpointer:
    """Manages ``run_dir/step=K/`` parquet state + manifests (any Hadoop FS)."""

    def __init__(self, spark: SparkSession, run_dir: str, params: dict[str, Any] | None = None):
        self.spark = spark
        self.run_dir = run_dir.rstrip("/")
        self.params = params or {}
        self.params_hash = _params_hash(self.params)
        self.fs = HadoopFS(spark, self.run_dir)
        self.fs.mkdirs(self.run_dir)

    # -- run-level validation --------------------------------------------------
    def prepare(self, resume: bool) -> None:
        """Fresh run: clear stale ``step=K`` dirs (an earlier, longer run's
        leftovers must not be picked up later) and stamp ``_RUN.json``.
        Resume: refuse when the recorded params/input hash doesn't match —
        silently continuing from a different input would be wrong-answers."""
        run_m = f"{self.run_dir}/{RUN_MANIFEST}"
        if resume:
            if self.fs.exists(run_m):
                prev = json.loads(self.fs.read_text(run_m))
                if prev.get("params_hash") != self.params_hash:
                    raise ValueError(
                        f"refusing to resume {self.run_dir}: existing run has "
                        f"params/input hash {prev.get('params_hash')}, this run "
                        f"has {self.params_hash} (input or parameters changed)"
                    )
                return
            # No _RUN.json: either a genuinely fresh dir (the natural
            # "resume if possible" first call — stamp it so the fingerprint
            # guard is live from step 0), or state left by something that
            # never validated — refusing beats side_input() silently reusing
            # parquet derived from an unknown input.
            leftovers = [d for d in self.fs.listdir(self.run_dir) if self._is_state(d)]
            if leftovers:
                raise ValueError(
                    f"refusing to resume {self.run_dir}: no {RUN_MANIFEST} but "
                    f"state already present ({sorted(leftovers)[:4]}...) — its input "
                    f"cannot be validated. Start fresh (resume=False) to rebuild."
                )
            self._stamp(run_m)
            return
        # Clear ONLY engine-owned state (step=K dirs + the side/ table dir) —
        # a run_dir the user also keeps other files in must never be swept.
        for d in self.fs.listdir(self.run_dir):
            if self._is_state(d):
                self.fs.delete(f"{self.run_dir}/{d}")
        self._stamp(run_m)

    @staticmethod
    def _is_state(name: str) -> bool:
        return name.startswith("step=") or name == SIDE_DIR

    def _stamp(self, run_m: str) -> None:
        self.fs.write_text(
            run_m,
            json.dumps(
                {
                    "params_hash": self.params_hash,
                    "params": {k: str(v) for k, v in self.params.items()},
                    "created_at": time.time(),
                },
                indent=1,
            ),
        )

    # -- side inputs (normalized edges etc.) ------------------------------------
    def side_input(self, name: str, df: DataFrame, *, resume: bool) -> DataFrame:
        """Materialize a per-run side table once; on resume, reuse the existing
        parquet (prepare() already validated the input fingerprint)."""
        path = f"{self.run_dir}/{SIDE_DIR}/{name}"
        if not (resume and self.fs.exists(path)):
            df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    # -- write ---------------------------------------------------------------
    def save(self, step: int, state: DataFrame) -> DataFrame:
        """Write state parquet + manifest; return the re-read DataFrame
        (lineage-truncated — use the return value for the next superstep)."""
        path = self._step_dir(step)
        data_path = f"{path}/state"
        self.fs.delete(path)  # incomplete leftover from a killed run
        t0 = time.time()
        state.write.mode("overwrite").parquet(data_path)
        reread = self.spark.read.parquet(data_path)
        # per-partition metrics from parquet footers (driver-side, no extra
        # Spark job per superstep): one entry per written partition file
        part_metrics = {}
        for fn, size in sorted(self.fs.file_sizes(data_path).items()):
            if fn.startswith("part-") and fn.endswith(".parquet"):
                part_metrics[fn] = {
                    "rows": self.fs.parquet_rows(f"{data_path}/{fn}"),
                    "bytes": size,
                }
        manifest = {
            "step": step,
            "params_hash": self.params_hash,
            "params": {k: str(v) for k, v in self.params.items()},
            "schema": reread.schema.json(),
            "partitioner": {
                "num_partitions": len(part_metrics),
                "layout": "parquet-files",
            },
            "partition_metrics": part_metrics,
            "lineage": {
                "parent_step": step - 1 if step > 0 else None,
                "wall_time_s": round(time.time() - t0, 4),
                "written_at": time.time(),
            },
        }
        self.fs.write_text(f"{path}/{MANIFEST}", json.dumps(manifest, indent=1))
        return reread

    # -- read ----------------------------------------------------------------
    def latest_step(self) -> int | None:
        """Highest superstep with a complete manifest and matching params."""
        best = None
        for d in self.fs.listdir(self.run_dir):
            if not d.startswith("step="):
                continue
            mpath = f"{self.run_dir}/{d}/{MANIFEST}"
            if not self.fs.exists(mpath):
                continue
            m = json.loads(self.fs.read_text(mpath))
            if m.get("params_hash") != self.params_hash:
                continue
            step = int(d.split("=", 1)[1])
            best = step if best is None else max(best, step)
        return best

    def load(self, step: int) -> DataFrame:
        return self.spark.read.parquet(f"{self._step_dir(step)}/state")

    def manifest(self, step: int) -> dict[str, Any]:
        return json.loads(self.fs.read_text(f"{self._step_dir(step)}/{MANIFEST}"))

    def _step_dir(self, step: int) -> str:
        return f"{self.run_dir}/step={step}"
