"""Pinned launch and workload sizes. Changing anything here changes what the
benchmark measures; keep it identical between the two sides of a comparison.

Sizes come from probes on a 4-core, 15 GB host (see NOTES.md). A full
comparison is about 70 runs that must fit in an hour, so one run gets about
45 s: JVM start, seeding, the warm-up and a timed window of a few ops.

The JIT is pinned to C1 with low compile thresholds. Under the default
tiered C2, medallion needs ~30 cycles and curation ~3 rounds before op times
stop falling, and until then compile threads take 30-45% of the process CPU
and move op times by 10-15% from run to run. With C1 compiling after a few
invocations the ramp mostly ends within the warm-up and JIT is ~5-10% of
the CPU; op times are 10-20% slower than C2's eventual steady state. Every figure is
therefore a C1 figure, of a JIT setting the program does not ship with:
`jvm.warmup_c1_s` is the wall time of the fixed warm-up under this pin, not
the C2 ramp a fresh JVM pays by default.
"""
import os

CORES = 4                    # Spark local[N]; never GraftSession's default
HEAP = "2g"                  # -Xms = -Xmx: no heap resizing inside a run
JAVA_OPTS = [
    f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss4m",
    "-XX:+UseG1GC", "-XX:-UsePerfData",   # no hsperfdata file in /tmp
    "-XX:ReservedCodeCacheSize=512m",
    "-XX:TieredStopAtLevel=1", "-XX:CompileThresholdScaling=0.05",
    f"-XX:ActiveProcessorCount={CORES}",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    """The jars of the Spark distribution that build.sbt compiles against:
    $SPARK_HOME/jars, else those of the first `spark-submit` on the PATH
    that sits in a full distribution."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    return ""


SPARK_JARS = spark_jars()
RUN_TIMEOUT_S = 150          # the JVM is killed past this

# Per-workload seed salt: two workloads never share a random stream.
SEED_SALT = {"medallion": 11, "curation": 23, "stream_dedup": 37}

# One curation round: MinHash-LSH candidate pairs feeding iterative connected
# components with convergence probes and a lineage cut (ROADMAP items 2-4).
CURATION_QUERIES = ["q221_incremental_cc"]
STREAM_K, STREAM_R = 16, 4   # lshBucketClaimStream defaults: k/r = 4 bands

# The timed window holds round(--seconds / op_s) ops (at least one): a fixed
# count for a given --seconds, never a time-boxed loop. warmup_ops precede it.
WORKLOADS = {
    # ops are pipeline cycles: land one poll, Bronze->Silver->Gold, dashboard
    "medallion": {"history_polls": 8, "warmup_ops": 3, "op_s": 7.5},
    # ops are rounds of CURATION_QUERIES over the first `docs` sf0.1 documents;
    # below ~500 the prefix holds no near-duplicate pair and q221 finds nothing
    "curation": {"docs": 1000, "warmup_ops": 2, "op_s": 7.5},
    # ops are micro-batches, one per arrival file; warm-up and window count
    # passes, each replaying every file from a fresh checkpoint
    "stream_dedup": {"files": 4, "docs_per_file": 100, "warmup_ops": 2, "op_s": 7.5},
}


def timed_ops(workload, seconds):
    return max(1, round(seconds / WORKLOADS[workload]["op_s"]))
