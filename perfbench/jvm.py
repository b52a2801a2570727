"""Build the engine plus harness from the checkout's sources, and run the
harness JVM (the process under test) with settings derived from the host.
"""
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

def host_settings():
    """Cores from nproc (the affinity mask) and heap from MemTotal, by the
    formula the repository's tier-1 verify uses: MemTotal/2, clamped to
    2..8 GiB."""
    cores = len(os.sched_getaffinity(0))
    kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                kb = int(line.split()[1])
    heap_g = min(8, max(2, kb // 2097152))
    return {"nproc": cores, "heap": f"{heap_g}g", "mem_total_kb": kb}


def _source_files():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt")]
    for top in (os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build(log):
    """Compile with sbt unless the stamp of every source matches the last
    build; return the runtime classpath and the engine build's JVM flags
    (its javaOptions without the heap, as perfbench/build.sbt writes them)."""
    stamp_path = os.path.join(HERE, "target", "perfbench.stamp")
    cp_path = os.path.join(HERE, "target", "perfbench.classpath")
    flags_path = os.path.join(HERE, "target", "perfbench.jvmflags")
    h = hashlib.sha256()
    for p in _source_files():
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    def result():
        with open(cp_path) as f, open(flags_path) as g:
            return f.read().strip(), g.read().split()

    if all(os.path.exists(p) for p in (stamp_path, cp_path, flags_path)):
        with open(stamp_path) as f:
            if f.read().strip() == stamp:
                return result()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                       + os.path.expanduser("~/.sbt/repositories")
                       + " -Dsbt.offline=true -Xmx3g")
    t0 = time.time()
    with open(log, "ab") as lf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeJvmFlags",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           stdout=subprocess.PIPE, stderr=lf, timeout=840)
        lf.write(p.stdout)
    if p.returncode != 0:
        raise RuntimeError(f"sbt build failed (rc={p.returncode}), see {log}")
    cp = [ln for ln in p.stdout.decode().splitlines() if "perfbench/target" in ln and ":" in ln]
    if not cp:
        raise RuntimeError("sbt printed no classpath")
    os.makedirs(os.path.dirname(cp_path), exist_ok=True)
    with open(cp_path, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_path, "w") as f:
        f.write(stamp)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return result()


def steal_jiffies():
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def warm_page_cache(classpath):
    """Read every classpath jar once, untimed: a cold page cache (a host
    that evicted the ~300 MB of Spark jars since the last run) otherwise
    adds seconds to whichever run comes first."""
    for p in classpath.split(":"):
        if os.path.isfile(p):
            with open(p, "rb") as f:
                while f.read(1 << 20):
                    pass


class Harness:
    """The harness JVM: LogDriverServer on a unix socket plus a JSON-lines
    command channel on stdin/stdout."""

    def __init__(self, classpath, jvm_flags, work, settings, log):
        os.makedirs(os.path.join(work, "spark-local"), exist_ok=True)
        cmd = (["java"] + jvm_flags + [f"-Xmx{settings['heap']}",
                                       f"-Djava.io.tmpdir={os.path.join(work, 'spark-local')}",
                                       "-cp", classpath, "perfbench.Harness", work,
                                       str(settings["nproc"])])
        self.t_launch = time.perf_counter()
        self.log = open(log, "ab")
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.log, cwd=work)
        self.ready = self._read()
        self.ready_s = time.perf_counter() - self.t_launch
        if self.ready.get("event") != "ready":
            raise RuntimeError(f"harness did not start: {self.ready}")

    def _read(self):
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("harness exited")
        return json.loads(line)

    def cmd(self, name, **kw):
        kw["cmd"] = name
        self.proc.stdin.write((json.dumps(kw) + "\n").encode())
        self.proc.stdin.flush()
        res = self._read()
        if "error" in res:
            raise RuntimeError(f"harness {name}: {res['error']}")
        return res

    def rss_peak_mb(self):
        with open(f"/proc/{self.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return float("nan")

    def cpu_s(self):
        """CPU seconds the harness JVM has used (user + system). Guest CPU
        time excludes time stolen by the hypervisor, so it is far steadier
        than wall time on a shared host."""
        with open(f"/proc/{self.proc.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def close(self):
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write(b'{"cmd": "quit"}\n')
                self.proc.stdin.flush()
                self.proc.wait(timeout=30)
            except Exception:
                pass
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()
        self.log.close()
