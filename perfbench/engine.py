"""Build the engine from source and drive it through py4j.

The engine is the repo's Scala library. `ensure_built` compiles it with
sbt (offline) into `target/` once per source digest; `start` opens a
local SparkSession with the compiled classes on the driver classpath, so
the benchmark calls the engine's public objects (`graft.pipeline.Pipeline`,
`graft.Queries`, `graft.sources.*`, `graft.silver.Silver`) as a client.
"""
import glob
import hashlib
import os
import subprocess
import sys
import tempfile
import time

CLASSES = os.path.join("target", "scala-2.13", "classes")
STAMP = os.path.join("target", "perfbench.build.sha256")


def _sources(repo):
    files = [os.path.join(repo, "build.sbt")]
    files += sorted(glob.glob(os.path.join(repo, "project", "*.sbt")))
    files += sorted(glob.glob(os.path.join(repo, "project", "build.properties")))
    files += sorted(glob.glob(os.path.join(repo, "src", "main", "**", "*.*"), recursive=True))
    return files


def source_digest(repo):
    h = hashlib.sha256()
    for f in _sources(repo):
        h.update(os.path.relpath(f, repo).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_built(repo, log=sys.stderr):
    """Compile the engine unless `target/` already holds classes built from
    these exact sources. Raises when the checkout holds no engine source."""
    if not os.path.isfile(os.path.join(repo, "build.sbt")) or \
            not os.path.isdir(os.path.join(repo, "src", "main", "scala")):
        raise FileNotFoundError("no engine source (build.sbt, src/main/scala) in " + repo)
    digest = source_digest(repo)
    stamp = os.path.join(repo, STAMP)
    if os.path.isdir(os.path.join(repo, CLASSES)) and os.path.isfile(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    home = os.path.expanduser("~")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
                       f"-Dsbt.repository.config={home}/.sbt/repositories")
    t0 = time.time()
    subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=repo,
                   env=env, stdout=log, stderr=log, stdin=subprocess.DEVNULL,
                   check=True, timeout=850)
    print(f"[perfbench] engine compiled in {time.time() - t0:.1f} s", file=log)
    with open(stamp, "w") as f:
        f.write(digest + "\n")


def driver_memory():
    """Tier-1's rule: half the box's memory, clamped to 2..8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def start(repo, work, cores):
    """Open the run's SparkSession: local[cores], shuffle partitions =
    cores, UTC, a private java.io.tmpdir and spark.local.dir under `work`."""
    from pyspark.sql import SparkSession
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # the py4j launcher's connection file goes to the private tmpdir too
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata_*
    tempfile.tempdir = tmp
    spark = (SparkSession.builder.master(f"local[{cores}]")
             .appName("perfbench")
             .config("spark.sql.shuffle.partitions", str(cores))
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.ansi.enabled", "false")
             .config("spark.sql.legacy.parquet.nanosAsLong", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory", driver_memory())
             .config("spark.driver.extraClassPath", os.path.abspath(os.path.join(repo, CLASSES)))
             .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -Duser.timezone=UTC -XX:-UsePerfData")
             .config("spark.local.dir", local)
             .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("OFF")
    return spark


class Scala:
    """The few Scala values py4j cannot build directly."""

    def __init__(self, spark):
        self.jvm = spark._jvm
        self.js = spark._jsparkSession

    def some(self, v):
        return self.jvm.scala.Some(v)

    def none(self):
        return getattr(getattr(self.jvm.scala, "None$"), "MODULE$")

    def imap(self, d):
        """Immutable scala Map[String, String] from a dict."""
        m = self.jvm.java.util.HashMap()
        for k, v in d.items():
            m.put(k, v)
        conv = self.jvm.scala.jdk.javaapi.CollectionConverters.asScala(m)
        return conv.toMap(getattr(getattr(self.jvm.scala, "$less$colon$less$"), "MODULE$").refl())

    def seq(self, xs):
        """Scala Seq of Strings."""
        al = self.jvm.java.util.ArrayList()
        for x in xs:
            al.add(x)
        return self.jvm.scala.jdk.javaapi.CollectionConverters.asScala(al).toSeq()

    def pairs(self, seq):
        """Python list of (name, value) from a Scala Seq[(String, V)]."""
        it = seq.iterator()
        out = []
        while it.hasNext():
            t = it.next()
            out.append((t._1(), t._2()))
        return out


def jvm_cpu_s():
    """User plus system CPU time the gateway JVM, which runs the driver and
    every task, has used so far."""
    from pyspark import SparkContext
    with open(f"/proc/{SparkContext._gateway.proc.pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def stop(spark):
    """Stop the session and the py4j gateway JVM, and wait for it to end."""
    from pyspark import SparkContext
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
