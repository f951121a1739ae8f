"""Build file of the benchmark.

    python3 perfbench/build.py        # prints the build directory

1. Compiles the program (src/main/scala) and the benchmark client
   (perfbench/harness) with the Scala compiler in Spark's jars directory.
2. Packs the classes and src/main/resources into prog.jar.
3. Records a JVM class-data archive (AppCDS) by running the client once
   over every workload's ops on small generated inputs, so that each
   benchmark JVM maps the loaded classes instead of parsing them again.

Everything lands in .bench_build/perfbench/<source hash>/ under the
repository root and is reused while no source file changes.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import launch  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

TRAIN_TIMEOUT_S = 600


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else next to spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"program sources not found under {main}")
    files = glob.glob(os.path.join(main, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "harness", "*.scala"))
    return sorted(files)


def _run(cmd, what):
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError(f"{what} failed:\n" + r.stdout[-4000:])


def _train(out, classpath, nproc):
    """One harness run over all ops with the archive recorded at exit."""
    root = os.path.join(out, "train")
    shutil.rmtree(root, ignore_errors=True)
    tables = {"events": dict(rows=2_000, users=150, files=1),
              "documents": dict(rows=500), "embeddings": dict(rows=500)}
    stats = gen.generate(tables, 0, os.path.join(root, "inputs"), nproc)
    conf = {"inputs": os.path.join(root, "inputs"), "work": os.path.join(root, "work"),
            "cpus": nproc, "seconds": 0, "trace": 0, "order_seed": 0,
            "ops": ",".join(op for w in WORKLOADS.values() for op in w["ops"]),
            "warmup_bound": 1.0, "warmup_passes": 0,
            "out": os.path.join(root, "harness.json")}
    conf.update({f"table.{t}.{k}": s[k] for t, s in stats.items() for k in ("rows", "files")})
    archive = os.path.join(out, "app.jsa")
    rc = launch.harness(classpath, conf, root, f"-XX:ArchiveClassesAtExit={archive}",
                        TRAIN_TIMEOUT_S)
    if rc != 0 or not os.path.exists(archive):
        with open(os.path.join(root, "jvm.log")) as fh:
            raise BuildError("class-data archive run failed:\n" + fh.read()[-4000:])
    shutil.rmtree(root, ignore_errors=True)
    return archive


def build(nproc):
    """Build if needed; return (runtime classpath, JVM class-data flag)."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for f in ("gen.py", "launch.py", "workloads.py"):  # the archive run's inputs
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD, h.hexdigest()[:16])
    jar = os.path.join(out, "prog.jar")
    classpath = [jar] + jars
    stamp = os.path.join(out, "ok")
    if not os.path.exists(stamp):
        for old in glob.glob(os.path.join(BUILD, "*", "sources.txt")):
            shutil.rmtree(os.path.dirname(old), ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        classes = os.path.join(out, "classes")
        os.makedirs(classes)
        args_file = os.path.join(out, "sources.txt")
        with open(args_file, "w") as fh:
            fh.write("\n".join(srcs))
        cp = os.pathsep.join(jars)
        _run(["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
              "-nowarn", "-d", classes, "-classpath", cp, "@" + args_file], "scalac")
        with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
            for base in (classes, os.path.join(ROOT, "src", "main", "resources")):
                for d, _, files in sorted(os.walk(base)):
                    for f in sorted(files):
                        p = os.path.join(d, f)
                        z.write(p, os.path.relpath(p, base))
        shutil.rmtree(classes)
        _train(out, classpath, nproc)
        open(stamp, "w").close()
    return classpath, "-XX:SharedArchiveFile=" + os.path.join(out, "app.jsa")


if __name__ == "__main__":
    try:
        build(len(os.sched_getaffinity(0)))
        print(BUILD)
    except BuildError as e:
        sys.exit(f"build: {e}")
