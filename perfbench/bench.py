"""Build, data and JVM plumbing shared by run.py and make_reference.py.

Everything the benchmark writes goes under `.bench_build/perfbench/` in
the checkout (plus sbt's own `target/` dirs): the harness classes, the
generated tables, and one scratch directory per run that is deleted when
the run ends.
"""
import hashlib
import os
import shutil
import signal
import subprocess

import gen_data

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(".bench_build", "perfbench")
HARNESS_SRC = os.path.join(HERE, "harness")
DATA_SCALE = 0.005
# documents and embeddings at sf0.1 size: 5,000 documents, 2,000 embeddings
TEXT_SCALE = 0.1
JVM_TIMEOUT_S = 160

ADD_OPENS = ("java.lang java.lang.invoke java.lang.reflect java.io java.net "
             "java.nio java.util java.util.concurrent java.util.concurrent.atomic "
             "sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar").split()


class BenchError(Exception):
    pass


def check_checkout():
    """The benchmark drives the engine's sources in the current directory."""
    if not (os.path.isfile("build.sbt") and
            os.path.isfile(os.path.join("src", "main", "scala", "graft", "GQuery.scala"))):
        raise BenchError("no engine sources here: run from the repository root")


def _stamp(paths):
    h = hashlib.sha1()
    for p in sorted(paths):
        st = os.stat(p)
        h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def _files(root, exts):
    out = []
    for d, _, names in os.walk(root):
        out += [os.path.join(d, n) for n in names if n.endswith(exts)]
    return out


def _up_to_date(stamp_file, stamp):
    return os.path.exists(stamp_file) and open(stamp_file).read() == stamp


def _log_tail(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def build():
    """Compile the engine (sbt, offline) and the harness (javac) when
    their sources changed; returns the JVM classpath."""
    os.makedirs(OUT, exist_ok=True)
    engine_src = (["build.sbt"] + _files("project", (".sbt", ".properties")) +
                  _files(os.path.join("src", "main"), (".scala", ".java")))
    engine_stamp = _stamp([p for p in engine_src if "target" not in p.split(os.sep)])
    stamp_file = os.path.join(OUT, "engine.stamp")
    cp_file = os.path.join(OUT, "engine.classpath")
    if not (_up_to_date(stamp_file, engine_stamp) and os.path.isfile(cp_file)):
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
        log = os.path.join(OUT, "build.log")
        with open(log, "w") as f:
            rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                  "export Runtime/fullClasspath"],
                                 stdout=f, stderr=subprocess.STDOUT, env=env,
                                 stdin=subprocess.DEVNULL)
        if rc != 0:
            raise BenchError(f"engine build failed (sbt rc={rc}):\n{_log_tail(log)}")
        # `export` prints the classpath as the last unprefixed line
        with open(log) as f:
            lines = [l.strip() for l in f if l.strip() and not l.startswith("[")]
        with open(cp_file, "w") as f:
            f.write(lines[-1])
        with open(stamp_file, "w") as f:
            f.write(engine_stamp)
    with open(cp_file) as f:
        engine_cp = f.read().strip()
    classes = os.path.join(OUT, "classes")
    sources = _files(HARNESS_SRC, (".java",))
    h_stamp = engine_stamp + _stamp(sources)
    h_stamp_file = os.path.join(OUT, "harness.stamp")
    if not (_up_to_date(h_stamp_file, h_stamp) and os.path.isdir(classes)):
        shutil.rmtree(classes, ignore_errors=True)
        r = subprocess.run(["javac", "-nowarn", "-d", classes, "-cp", engine_cp] + sources,
                           capture_output=True, text=True)
        if r.returncode != 0:
            raise BenchError(f"harness build failed:\n{r.stderr[-4000:]}")
        with open(h_stamp_file, "w") as f:
            f.write(h_stamp)
    return os.pathsep.join([classes, engine_cp])


def data_dir():
    """Generate (once per checkout) the fixture tables the ops read."""
    d = os.path.abspath(os.path.join(OUT, "data"))
    gen_data.generate(d, DATA_SCALE, TEXT_SCALE)
    return d


def workers():
    return len(os.sched_getaffinity(0))


def heap_mb():
    """The heap sized for this machine: an eighth of its memory,
    clamped to [1 GiB, 8 GiB] (8g is tools/bench_local.sh's default)."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration, ValueError):
        return 2048
    return max(1024, min(8192, kb // 1024 // 8))


def jvm_command(classpath, run_dir, *main):
    """`java <flags> <main>...` with tools/bench_local.sh's JVM flags,
    heap sized for this machine, every scratch path inside the run's own
    directory."""
    heap = heap_mb()
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:+UseParallelGC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dspark.local.dir={run_dir}/spark",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            "-cp", classpath, *main]
    return cmd


class RunDir:
    """An empty scratch directory owned by one run, deleted at exit; the
    engine's SPARK_GRAFT_LOCAL_DIR points into it, so staged layouts never
    carry over between runs."""

    def __enter__(self):
        self.path = os.path.abspath(os.path.join(OUT, f"run-{os.getpid()}"))
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("tmp", "spark", "warehouse", "scratch"):
            os.makedirs(os.path.join(self.path, sub))
        return self.path

    def __exit__(self, *exc):
        shutil.rmtree(self.path, ignore_errors=True)
        return False


def run_jvm(cmd, run_dir):
    """Run the harness JVM to completion in its own process group, which
    is killed and reaped on timeout or interrupt."""
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(run_dir, "scratch"))
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, env=env,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    if p.returncode != 0:
        raise BenchError(f"harness JVM failed (rc={p.returncode}):\n{_log_tail(log)}")


def memo_log_lines():
    """The engine's BuildLog (appended by every JVM; filtered by pid)."""
    try:
        with open(os.path.join("target", "memo_log.txt"), errors="replace") as f:
            return f.readlines()
    except OSError:
        return []
