"""Set-up, host probes and memory readings shared by every workload."""

from __future__ import annotations

import gc
import os
import re
import sys
import time


def cores() -> int:
    return len(os.sched_getaffinity(0))


def process_age_s() -> float:
    """Seconds since this process started (``/proc/self/stat`` start time
    against the boot clock), so set-up includes interpreter start-up."""
    with open("/proc/self/stat", encoding="ascii") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start = int(fields[19]) / os.sysconf("SC_CLK_TCK")  # field 22: starttime
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def start_session(app: str, trace: bool):
    """JVM launch and py4j gateway (``get_spark``), the tracer's wrappers
    when ``trace``, then the first import of the 488-operator registry
    with its third-party imports (``all_queries``).

    Returns ``(spark, specs, tracer, record)``. Nothing in the benchmark
    imports pyspark, numpy, pandas or pyarrow before this call."""
    t0 = time.perf_counter()
    from weather_stream_processor_spark.session import get_spark

    spark = get_spark(f"perfbench-{app}")
    t1 = time.perf_counter()
    tracer = None
    if trace:
        from tracing import Tracer

        tracer = Tracer(spark)
        tracer.install()
    from weather_stream_processor_spark.registry import all_queries

    specs = all_queries()
    t2 = time.perf_counter()
    # a traced run imports the operator modules in ``install``
    return spark, specs, tracer, {"get_spark_s": t1 - t0, "registry_s": t2 - t1}


def stop_spark() -> None:
    """Stop Spark, if it was started, and wait until its JVM (the py4j
    gateway process, which exits when its stdin closes) and with it the
    Python workers have ended."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot (``steal``
    in ``/proc/stat``), in seconds summed over CPUs."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def host_probe(spark, n_cores: int) -> dict[str, float]:
    """Contention sentinel of about a second: fixed-work JVM and
    Python-worker jobs whose cost does not depend on the package, plus
    the 1-minute load average. A metric that moves with these between
    runs moved with the host."""
    t0 = time.perf_counter()
    spark.range(40_000_000).selectExpr("sum(id * 2 + 1)").collect()
    jvm = time.perf_counter() - t0

    def py_probe(rows):
        acc = 0
        for r in rows:
            for i in range(250_000):
                acc += (i * r) % 7
        yield acc

    # start the Python workers first: the probe times fixed work, not their start
    spark.sparkContext.parallelize(range(n_cores), n_cores).map(lambda x: x).collect()
    t0 = time.perf_counter()
    spark.sparkContext.parallelize(range(n_cores), n_cores).mapPartitions(py_probe).collect()
    py = time.perf_counter() - t0
    return {
        "calib_jvm_s": jvm,
        "calib_py_s": py,
        "loadavg_1m": os.getloadavg()[0],
        "cpu_steal_s": cpu_steal_s(),
    }


STABLE_GCS = 2
MAX_GCS = 6
# lets Spark's ContextCleaner thread release blocks between two collections
GC_PAUSE_S = 0.03


def _status_kb(pid, field: str = "VmHWM") -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def _heap_range(spark) -> tuple[int, int]:
    """The JVM heap's reserved address range, as ``jcmd GC.heap_info``
    prints it: ``... [0x0000000600000000, 0x0000000800000000)``. The
    diagnostic command is called through ``MBeanServer.invoke``, by
    reflection on the public interface: the server's own class is not
    exported, so py4j cannot call it directly."""
    gw, jvm = spark.sparkContext._gateway, spark._jvm
    cls = jvm.java.lang.Class
    types = gw.new_array(cls, 4)
    signature = ("javax.management.ObjectName", "java.lang.String", "[Ljava.lang.Object;", "[Ljava.lang.String;")
    for i, name in enumerate(signature):
        types[i] = cls.forName(name)
    invoke = cls.forName("javax.management.MBeanServer").getMethod("invoke", types)
    params = gw.new_array(jvm.java.lang.Object, 1)
    params[0] = gw.new_array(jvm.java.lang.String, 0)
    sig = gw.new_array(jvm.java.lang.String, 1)
    sig[0] = "[Ljava.lang.String;"
    call = gw.new_array(jvm.java.lang.Object, 4)
    call[0] = jvm.javax.management.ObjectName("com.sun.management:type=DiagnosticCommand")
    call[1], call[2], call[3] = "gcHeapInfo", params, sig
    info = invoke.invoke(jvm.java.lang.management.ManagementFactory.getPlatformMBeanServer(), call)
    lo, hi = re.search(r"\[(0x[0-9a-f]+), (0x[0-9a-f]+)\)", info).groups()
    return int(lo, 16), int(hi, 16)


def _rss_in_kb(pid, lo: int, hi: int) -> int:
    """Resident KB of the process's mappings inside ``[lo, hi)``."""
    total, inside = 0, False
    with open(f"/proc/{pid}/smaps", encoding="ascii") as f:
        for line in f:
            head = line.split(maxsplit=1)[0]
            if "-" in head:  # a mapping's first line
                start, end = (int(x, 16) for x in head.split("-"))
                inside = lo <= start and end <= hi
            elif head == "Rss:" and inside:
                total += int(line.split()[1])
    return total


class Memory:
    """Peak of the driver memory the program's changes can move, sampled
    while the work is live: at the end of each timed pass or drain, before
    its frames are dropped or its query stops, and at the end of the live
    loop, before its query stops.

    The JVM runs with the program's own heap settings, so its resident
    memory holds heap pages that G1's sizing heuristics, which react to
    host load, committed and touched, and the peak of any heap generation
    moves with the timing of collections. A sample is therefore the JVM's
    resident memory outside the heap plus the heap still live after full
    collections: what the work keeps alive (cached and cut blocks, state
    stores, broadcasts, frames still referenced) and off-heap memory. The
    JVM's own VmHWM is not used: the heap's share of it at its peak is not
    known. ``total`` is the largest sample plus the driver Python's peak
    RSS (VmHWM). Transient heap pressure between samples shows as time
    instead.
    """

    def __init__(self, spark):
        self.jvm = spark._jvm
        self.pid = self.jvm.java.lang.ProcessHandle.current().pid()
        self.heap_range = _heap_range(spark)
        self.samples: list[dict[str, float]] = []

    def _live_heap_mb(self) -> tuple[float, int]:
        """Heap used after full collections, and how many ran.

        Python drops its references to JVM objects first. A full collection
        lets Spark's ContextCleaner release, on its own thread, the blocks
        of frames nothing references any more, and the next collection
        frees them; chained lineage cuts take several rounds. So collect
        until the live heap has not shrunk over STABLE_GCS collections in a
        row."""
        gc.collect()
        heap = self.jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        live, steady, n = float("inf"), 0, 0
        while steady < STABLE_GCS and n < MAX_GCS:
            self.jvm.java.lang.System.gc()
            n += 1
            used = heap.getHeapMemoryUsage().getUsed() / 2**20
            steady = steady + 1 if used > live - 1 else 0
            live = min(live, used)
            time.sleep(GC_PAUSE_S)
        return live, n

    def sample(self) -> None:
        t0 = time.perf_counter()
        live, n = self._live_heap_mb()
        rss = _status_kb(self.pid, "VmRSS") / 1024
        heap_rss = _rss_in_kb(self.pid, *self.heap_range) / 1024
        self.samples.append({
            "heap_live": live, "off_heap_rss": rss - heap_rss, "jvm_rss": rss, "full_gcs": n,
            "s": time.perf_counter() - t0,
        })

    def reading(self) -> dict:
        jvm_peak = max(s["heap_live"] + s["off_heap_rss"] for s in self.samples)
        python_hwm = _status_kb("self") / 1024
        return {
            "samples": self.samples,
            "jvm_hwm": _status_kb(self.pid) / 1024,
            "python_hwm": python_hwm,
            "total": jvm_peak + python_hwm,
        }
