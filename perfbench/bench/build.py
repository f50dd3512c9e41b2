"""Builds the library and the harness from the checkout's sources with sbt
and caches the resulting classpath until a source file changes."""
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".build")
BUILD_TIMEOUT_S = 840


def _sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (ROOT, HERE):
        proj = os.path.join(base, "project")
        if os.path.isdir(proj):
            files += [os.path.join(proj, f) for f in os.listdir(proj)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def _fingerprint():
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp}"
    return env


def classpath():
    """The harness classpath, building first when any source changed.
    Raises RuntimeError when the sources are missing or do not build."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise RuntimeError(f"no library sources under {ROOT}: run from a "
                           "checkout of the repository")
    stamp = _fingerprint()
    cp_file = os.path.join(STATE, "classpath")
    stamp_file = os.path.join(STATE, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(STATE, exist_ok=True)
    log = os.path.join(STATE, "sbt.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=_sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    lines = open(log).read().splitlines()
    cp = next((l for l in reversed(lines)
               if os.path.join(HERE, "target") in l and ":" in l), None)
    if r.returncode != 0 or cp is None:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise RuntimeError(f"sbt build failed (exit {r.returncode}); log: {log}")
    with open(cp_file, "w") as f:
        f.write(cp.strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp.strip()
