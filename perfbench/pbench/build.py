"""Builds the program and the harness from the checkout's sources, once
per source state, and starts the harness JVM."""
import hashlib
import json
import os
import shutil
import signal
import subprocess
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
STATE = ROOT / ".bench_build" / "perfbench"



def source_stamp():
    """Digest of every file the build reads: the program's build and
    sources, and the harness's."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for base in (ROOT / "project", BENCH / "project"):
        files += sorted(base.glob("*.sbt")) + sorted(base.glob("*.properties")) + sorted(base.glob("*.scala"))
    for base in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    return h.hexdigest()[:16]


def check_sources():
    """The program's sources must be present: the benchmark builds them."""
    missing = [p for p in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala" / "graft") if not p.exists()]
    if missing:
        raise SystemExit(f"perfbench: program sources not found ({', '.join(str(m) for m in missing)})")


def ensure_built(log):
    """Runs the sbt build when the sources changed since the last one.
    Returns the build stamp."""
    stamp = source_stamp()
    launch = STATE / f"launch-{stamp}.json"
    if launch.exists():
        return stamp
    STATE.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    code = run_waiting(["sbt", "--batch", "-J-XX:-UsePerfData", "-Dsbt.server.autostart=false",
                        "writeLaunch"], BENCH, env, log, 800, "build")
    target = BENCH / "target" / "launch"
    if code != 0 or not (target / "classpath.txt").exists():
        raise SystemExit(f"perfbench: build failed (exit {code}); see {log}")
    launch.write_text(json.dumps({
        "classpath": (target / "classpath.txt").read_text().strip(),
        "javaopts": [o for o in (target / "javaopts.txt").read_text().split("\n") if o.strip()],
    }))
    return stamp


def run_waiting(cmd, cwd, env, log, timeout, what):
    """Runs ``cmd`` in its own process group, output appended to ``log``,
    and waits for it; on timeout the whole group is killed and reaped."""
    with open(log, "a") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"perfbench: {what} timed out after {timeout:.0f} s; see {log}")


def java_command(stamp, tmpdir, *args):
    """The harness JVM runs with the program's own options, heap size
    included. It starts at that heap size (``-Xms`` equal to ``-Xmx``) with
    a fixed 1 GB young generation, which every run fills: the peak RSS then
    moves with what the old generation retains (cached views, checkpoint
    blocks), not with how the collector happened to size the heap."""
    launch = json.loads((STATE / f"launch-{stamp}.json").read_text())
    opts = launch["javaopts"]
    heap = [f"-Xms{o[len('-Xmx'):]}" for o in opts if o.startswith("-Xmx")][-1:]
    return (["java", *heap, "-Xmn1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmpdir}"] + opts
            + ["-cp", launch["classpath"], "graft.perfbench.Harness"] + list(args))


def run_harness(stamp, workdir, args, log, timeout):
    """Starts the harness JVM and waits for it (killed on timeout)."""
    tmp = Path(workdir) / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()))
    return run_waiting(java_command(stamp, tmp, *args), workdir, env, log, timeout, "harness")


def catalog(stamp, log):
    """Every registered query with its pack, oracle SQL and twins."""
    path = STATE / f"catalog-{stamp}.jsonl"
    if not path.exists():
        work = STATE / f"catalog-{os.getpid()}"
        work.mkdir(parents=True, exist_ok=True)
        try:
            if run_harness(stamp, work, ["catalog", str(path)], log, 120) != 0:
                raise SystemExit(f"perfbench: catalog dump failed; see {log}")
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return [json.loads(line) for line in path.read_text().splitlines() if line.strip()]


def cpus():
    return len(os.sched_getaffinity(0))
