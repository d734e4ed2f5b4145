"""Builds the harness (engine sources included) and runs it in its own JVM."""
import hashlib
import os
import shutil
import signal
import subprocess

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(REPO, "src", "main")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# engine's own build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BuildError(Exception):
    pass


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("no Spark distribution: set SPARK_HOME")
    return home


def _source_digest():
    h = hashlib.sha1()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        for d, _, fs in os.walk(root):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(log_path):
    """Compile unless the stamp matches the current sources."""
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources not found at {ENGINE_SRC}")
    digest = _source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == digest:
                return
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    with open(log_path, "w") as log:
        rc = _run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                  HERE, env, log, timeout=840)
    if rc != 0:
        raise BuildError(f"sbt compile failed (exit {rc}); see {log_path}")
    with open(STAMP, "w") as f:
        f.write(digest)


def _run(cmd, cwd, env, log, timeout):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def java(main, args, tmp, log_path, heap="3g", timeout=170):
    """Run a harness main class; returns the exit code."""
    java_bin = shutil.which("java")
    if not java_bin:
        raise BuildError("no java on PATH")
    cp = CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*")
    cmd = ([java_bin] +
           [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           [f"-Xms{heap}", f"-Xmx{heap}", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
            "-cp", cp, main] + list(args))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    with open(log_path, "w") as log:
        return _run(cmd, tmp, env, log, timeout)


def log_tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""

