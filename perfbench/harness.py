"""Build, engine process, HTTP client and statistics helpers of the benchmark."""
import hashlib
import http.client
import json
import os
import queue
import shutil
import signal
import subprocess
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")

# The inputs of the program build: the engine's own sources and build files,
# and the benchmark's JVM package that depends on them.
BUILD_INPUTS = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"]

# As build.sbt gives the forked JVMs: Spark 4 on JDK 17 needs these opens
# when the session is created outside spark-submit.
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
JVM_HEAP = "3g"
CLOCK_TICKS = os.sysconf("SC_CLK_TCK")
# HotSpot's own threads (names as /proc shows them, cut to 15 characters),
# by what they do. Their CPU time is the JVM's, not the engine's own work,
# and how much of it lands in a window varies from run to run. The compiler
# threads are kept alive for the whole run (-UseDynamicNumberOfCompilerThreads)
# and HotSpot does not end the others, so none takes its CPU time away with it.
JVM_THREADS = {
    "jit": ("C1 CompilerThre", "C2 CompilerThre"),
    "gc": ("GC Thread", "G1 "),
    "vm": ("VM Thread", "VM Periodic Tas", "Service Thread", "Sweeper thread",
           "Monitor Deflati"),
}


class BenchError(Exception):
    """A set-up failure: the run cannot produce a result."""


def cpus():
    return len(os.sched_getaffinity(0))


def _fingerprint():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        p = os.path.join(ROOT, rel)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(p)
            if "target" not in os.path.relpath(d, p).split(os.sep) for f in files)
        for f in paths:
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark package with sbt; returns the
    runtime classpath. Reuses the previous build while its inputs are
    unchanged."""
    for rel in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            raise BenchError(f"program source missing: {rel}")
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp = os.path.join(BUILD_DIR, "classpath.json")
    fp = _fingerprint()
    try:
        with open(stamp) as f:
            cached = json.load(f)
        if cached["fingerprint"] == fp:
            return cached["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    # the build's temp files stay in the checkout too
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, TMPDIR=tmp,
               JAVA_TOOL_OPTIONS=(os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip())
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx3g")
    env["SBT_OPTS"] += " -Djava.io.tmpdir=" + tmp
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    try:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                           capture_output=True, text=True, timeout=840)
    except (OSError, subprocess.TimeoutExpired) as e:
        raise BenchError(f"build failed: {e}")
    lines = [l for l in r.stdout.splitlines()
             if "perfbench" in l and os.pathsep in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        raise BenchError("build failed:\n" + (r.stdout + r.stderr)[-3000:])
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


def free_port():
    import socket
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Engine:
    """One engine JVM. Its working directory is the run's own directory, so
    the Spark warehouse, local dirs and temp files of a run stay there."""

    def __init__(self, classpath, work, main, args, env=None):
        self.work = work
        local = os.path.join(work, "local")
        os.makedirs(local, exist_ok=True)
        opts = [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
        opts += ["-Xmx" + JVM_HEAP, "-Dspark.ui.enabled=false",
                 "-Dspark.sql.session.timeZone=UTC", "-Dfile.encoding=UTF-8",
                 "-Dstdout.encoding=UTF-8", "-Dstderr.encoding=UTF-8",
                 "-Djava.io.tmpdir=" + local, "-XX:-UsePerfData",
                 "-XX:-UseDynamicNumberOfCompilerThreads"]
        full_env = dict(os.environ, SPARK_LOCAL_DIRS=local, **(env or {}))
        self.log_path = os.path.join(work, "engine.log")
        self._log = open(self.log_path, "w")
        self.launched = time.perf_counter()
        self.proc = subprocess.Popen(
            ["java", *opts, "-cp", classpath, main, *args], cwd=work, env=full_env,
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._log,
            text=True, start_new_session=True)
        self.lines = queue.Queue()
        self.replies = queue.Queue()
        threading.Thread(target=self._read, daemon=True).start()

    def _read(self):
        for line in self.proc.stdout:
            (self.replies if line.startswith("@@ ") else self.lines).put(line)
        self.lines.put(None)
        self.replies.put(None)

    def wait_for(self, text, timeout):
        deadline = time.monotonic() + timeout
        while True:
            try:
                line = self.lines.get(timeout=max(0.0, deadline - time.monotonic()))
            except queue.Empty:
                raise BenchError(f"engine did not print {text!r} within {timeout}s" + self.log_tail())
            if line is None:
                raise BenchError("engine exited during set-up" + self.log_tail())
            if text in line:
                return line

    def reply(self, timeout):
        try:
            line = self.replies.get(timeout=timeout)
        except queue.Empty:
            raise BenchError(f"engine gave no reply within {timeout}s" + self.log_tail())
        if line is None:
            raise BenchError("engine exited" + self.log_tail())
        return json.loads(line[3:])

    def command(self, timeout=120, **cmd):
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        return self.reply(timeout)

    def peak_rss_mb(self):
        """The engine's VmHWM, or None once the process has ended."""
        try:
            with open(f"/proc/{self.proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            pass
        return None

    def cpu_seconds(self):
        """(all, by_group): user plus system CPU seconds the engine JVM has
        used so far in all its threads, and in its live threads by name
        group (the thread name without its number); None once the process
        has ended. The kernel leaves time stolen by the hypervisor out."""
        def ticks(stat_path):
            with open(stat_path) as f:
                fields = f.read().rsplit(")", 1)[1].split()
            # fields 14 and 15 of proc(5), counted after the command name
            return int(fields[11]) + int(fields[12])
        base = f"/proc/{self.proc.pid}"
        groups = {}
        try:
            total = ticks(f"{base}/stat")
            for tid in os.listdir(f"{base}/task"):
                try:
                    with open(f"{base}/task/{tid}/comm") as f:
                        group = f.read().strip().rstrip("0123456789#-. ")
                    groups[group] = groups.get(group, 0) + ticks(f"{base}/task/{tid}/stat")
                except OSError:  # the thread has ended
                    pass
        except OSError:
            return None
        return total / CLOCK_TICKS, {g: t / CLOCK_TICKS for g, t in groups.items()}

    def app_cpu_seconds(self):
        """CPU seconds of the engine's own work so far: all threads but
        HotSpot's own; None once the process has ended."""
        c = self.cpu_seconds()
        return None if c is None else c[0] - sum(jvm_seconds(c[1], k) for k in JVM_THREADS)

    def log_tail(self):
        try:
            with open(self.log_path, errors="replace") as f:
                return "\n--- engine log tail ---\n" + f.read()[-2000:]
        except OSError:
            return ""

    def stop(self):
        """End the JVM (HttpServer.stop() leaves non-daemon pool threads
        behind, so the process is killed) and wait until it has ended."""
        if self.proc.poll() is None:
            try:
                os.killpg(self.proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        self.proc.wait()
        self._log.close()


def jvm_seconds(groups, kind):
    """CPU seconds of the thread groups of one kind of JVM_THREADS."""
    return sum(t for g, t in groups.items() if g.startswith(JVM_THREADS[kind]))


def cpu_by_group(c0, c1, top=8):
    """The thread groups that used the most CPU seconds between two
    cpu_seconds() readings."""
    d = {g: round(t - c0[1].get(g, 0.0), 2) for g, t in c1[1].items()}
    return dict(sorted(d.items(), key=lambda x: -x[1])[:top])


class Http:
    """One keep-alive connection; every call returns (ok, status, body, seconds).
    A transport error, a non-200 status or a chunked body that ends early
    (the server's mid-stream failure signal) is a failed operation."""

    def __init__(self, port, timeout=60):
        self.port, self.timeout, self.conn = port, timeout, None

    def call(self, method, path, body=None):
        t0 = time.perf_counter()
        try:
            if self.conn is None:
                self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=self.timeout)
            self.conn.request(method, path, body=body)
            resp = self.conn.getresponse()
            data = resp.read()
            dt = time.perf_counter() - t0
            if resp.will_close:
                self.close()
            return resp.status == 200, resp.status, data, dt
        except (OSError, http.client.HTTPException) as e:
            self.close()
            return False, 0, repr(e).encode(), time.perf_counter() - t0

    def close(self):
        if self.conn is not None:
            self.conn.close()
            self.conn = None


def closed_loop(n_clients, client):
    """Runs client(i) in n_clients threads and returns (start, end) of the
    window: it ends when the last client has had its last reply."""
    start = time.perf_counter()
    threads = [threading.Thread(target=client, args=(i,)) for i in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return start, time.perf_counter()


def cpu_jiffies():
    """(steal, total) jiffies of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("cpu "):
                v = [int(x) for x in line.split()[1:]]
                return v[7] if len(v) > 7 else 0, sum(v)
    return 0, 0


class Noise:
    """CPU steal and wall-clock window of the timed part of a run."""

    def __init__(self):
        self.j0 = cpu_jiffies()
        self.t0 = time.time()

    def record(self):
        s1, t1 = cpu_jiffies()
        s0, t0 = self.j0
        return {"steal_pct": round(100.0 * (s1 - s0) / max(1, t1 - t0), 3),
                "window_utc": [time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(self.t0)),
                               time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime())]}


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return None
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def percentile(xs, p):
    xs = sorted(xs)
    if not xs:
        return None
    k = (len(xs) - 1) * p
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def make_workdir():
    os.makedirs(os.path.join(BUILD_DIR, "runs"), exist_ok=True)
    import tempfile
    return tempfile.mkdtemp(prefix="run-", dir=os.path.join(BUILD_DIR, "runs"))


def remove_workdir(path):
    shutil.rmtree(path, ignore_errors=True)
