"""One Spark driver per benchmark run: launch, repeatable set-up, shutdown.

The JVM is launched once per run with Spark's log routed to a file (not
stdout/stderr). Set-up is repeated inside that JVM by stopping and
re-creating the SparkContext, which also replaces the Python worker daemon,
so every set-up pays session start, input load/cache and worker warm-up.
All scratch files (shuffle, spill, temp, warehouse) stay under the run's
work directory.
"""

from __future__ import annotations

import os
import signal
import time

from spans import alive, descendants, java_pids

_LOG4J = """\
rootLogger.level = warn
rootLogger.appenderRef.file.ref = file
appender.file.type = File
appender.file.name = file
appender.file.fileName = {path}
appender.file.layout.type = PatternLayout
appender.file.layout.pattern = %d{{yy/MM/dd HH:mm:ss}} %p %c{{1}}: %m%n%ex
"""


def wait_for_no_java(timeout_s: float) -> list[int]:
    """Other java processes still running after ``timeout_s`` (a JVM from a
    run that just ended gets that long to exit)."""
    deadline = time.time() + timeout_s
    while True:
        left = java_pids({os.getpid()})
        if not left or time.time() > deadline:
            return left
        time.sleep(0.5)


def _load_and_warm(df) -> None:
    """One job that fills the input cache and starts a Python worker per
    core with the sketch kernels imported."""
    def warm(batches):
        from rensa_spark.kernels.rminhash import rminhash_matrix  # noqa: F401
        from rensa_spark.kernels.shingle import shingle_hashes_batch

        for pdf in batches:
            shingle_hashes_batch(pdf["text"].head(1), 3)
            yield pdf[["key"]]

    df.mapInPandas(warm, "key string").write.format("noop").mode("overwrite").save()


class SparkHost:
    def __init__(self, root: str, work: str, nproc: int) -> None:
        self.nproc = nproc
        self.master = f"local[{nproc}]"
        self.log_path = os.path.join(work, "spark.log")
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        props = os.path.join(work, "log4j2.properties")
        with open(props, "w") as f:
            f.write(_LOG4J.format(path=self.log_path))
        # workers import rensa_spark from the checkout; scratch stays in it
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["TMPDIR"] = tmp
        # spark-submit's launcher JVM would write /tmp/hsperfdata_<user>
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        self.conf = {
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": (
                f"-Dlog4j2.configurationFile=file:{props} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
            "spark.sql.ui.retainedExecutions": "20000",
        }
        self.spark = None
        self.jvm_pid = None

    def setup(self, input_path: str):
        """Session start + input load/cache + Python worker warm-up.
        Returns (spark, cached input DataFrame, seconds)."""
        from rensa_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="bench_dedup",
            master=self.master,
            shuffle_partitions=2 * self.nproc,
            extra_conf=self.conf,
        )
        df = self.spark.read.parquet(input_path).repartition(2 * self.nproc).cache()
        _load_and_warm(df)
        took = time.perf_counter() - t0
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        return self.spark, df, took

    def stop_context(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def log_error_lines(self) -> int:
        try:
            with open(self.log_path, errors="replace") as f:
                return sum(1 for line in f if " ERROR " in line[:40])
        except OSError:
            return 0

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait until it and every process under
        it (the Python worker daemon) have exited."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        procs = descendants(proc.pid) + [proc.pid]
        try:
            self.stop_context()
        finally:
            try:
                gw.shutdown()
            except Exception:  # the JVM side may already be gone
                pass
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
            deadline = time.time() + 20
            while time.time() < deadline:
                procs = [p for p in procs if alive(p)]
                if not procs:
                    return
                time.sleep(0.2)
            for p in procs:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
