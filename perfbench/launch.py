"""Starts the benchmark client JVM (perfbench.Harness) on a config."""
import os
import subprocess

# Spark on JDK 17 outside spark-submit needs these (the set
# org.apache.spark.launcher.JavaModuleOptions passes).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# A fixed heap and young generation: G1 then cycles eden through the same
# regions instead of growing it adaptively, so the JVM's peak resident set
# follows what the program keeps, not when the collector chose to resize.
HEAP_FLAGS = ["-Xms3g", "-Xmx3g", "-Xmn512m"]


def harness(classpath, conf, root, cds_flag, timeout_s):
    """Write `conf` as root/harness.properties, run the harness with its
    scratch (java.io.tmpdir) under conf["work"], log to root/jvm.log.
    Returns the exit code, or None on timeout (the JVM is then killed)."""
    conf_path = os.path.join(root, "harness.properties")
    with open(conf_path, "w") as fh:
        # java.util.Properties treats backslashes as escapes
        fh.writelines(f"{k}={str(v).replace(chr(92), '/')}\n" for k, v in conf.items())
    tmp = os.path.join(conf["work"], "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + HEAP_FLAGS + [cds_flag, f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classpath), "perfbench.Harness", conf_path])
    with open(os.path.join(root, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=conf["work"])
        try:
            return p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
