"""Session lifecycle for the benchmark: the engine's default session,
process hygiene, peak memory, and a clean shutdown that waits for
every process the session started."""

from __future__ import annotations

import os
import resource
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> dict[str, str]:
    """Fresh scratch space inside the checkout, and the environment the
    JVM and its Python workers inherit: the engine on the workers' path,
    every temp and spill directory under the scratch space, and the
    engine's core count set to the machine's."""
    shutil.rmtree(WORK, ignore_errors=True)
    dirs = {k: os.path.join(WORK, k) for k in ("data", "tmp", "local", "events")}
    for d in dirs.values():
        os.makedirs(d)
    path = os.environ.get("PYTHONPATH", "")
    os.environ.update({
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['tmp']}",
        "SPARK_GRAFT_CPUS": str(cores()),
    })
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return dirs


def start_session(event_dir: str | None = None):
    """The engine's default session (``get_spark()``: local[cores], AQE
    on), with console progress bars off and, only when tracing, a
    plain-JSON event log."""
    import data_pipeline_childcare_spark as eng

    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    else:
        conf["spark.eventLog.enabled"] = "false"
    spark = eng.get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def restart_session(spark, event_dir: str | None = None):
    """Stop the context and start a fresh one in the same JVM, dropping
    every session-scoped cache the engine keeps."""
    from data_pipeline_childcare_spark.operators.similarity import clear_session_caches

    clear_session_caches()
    spark.stop()
    return start_session(event_dir)


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def peak_rss_mb() -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = _jvm_pid()
    if pid is not None:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown(spark) -> None:
    """Stop the session, end the JVM and its Python workers, and wait
    until each process has exited."""
    from pyspark import SparkContext

    pid = _jvm_pid()
    procs = ([pid] + _descendants(pid)) if pid is not None else []
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            gw.proc.wait(60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while any(_alive(p) for p in procs):
        if time.monotonic() > deadline:
            for p in procs:
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)
