"""Build the graft library and the harness from source with the Scala
compiler that ships in the Spark jars directory; no build tool, no
network.  Everything goes to `$CARGO_TARGET_DIR` (default
`.bench_build`) under the checkout; a content stamp skips a rebuild
when no source changed."""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def spark_jars():
    """The Spark jars directory: `$SPARK_HOME/jars`, else the one the
    repo's build.sbt compiles against (`unmanagedBase`)."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open("build.sbt") as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        if not m:
            sys.exit("perfbench: no build.sbt naming the Spark jars and no SPARK_HOME; "
                     "run from the root of a graft checkout")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"perfbench: no Spark/Scala jars under {jars}")
    return jars


def _sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def _stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.basename(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(files, out, classpath, log):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath, "@" + argfile]
    with open(log, "w") as lf:
        rc = subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        shutil.rmtree(out, ignore_errors=True)
        sys.exit(f"perfbench: compile failed ({log})")


def _jar(classes, path):
    with zipfile.ZipFile(path + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                full = os.path.join(d, f)
                z.write(full, os.path.relpath(full, classes))
    os.replace(path + ".tmp", path)


def java_cmd(cp, tmpdir):
    """The JVM command every harness run uses."""
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-Xss4m",
           f"-Djava.io.tmpdir={tmpdir}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "graft.perfbench.Main"]


def build(root, bench_dir):
    """Compile `src/main/scala` and then the harness against it, and
    jar both. Returns (classpath, source digest)."""
    target = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(target, exist_ok=True)
    main_src = os.path.join(root, "src", "main", "scala")
    files = _sources(main_src)
    if not files:
        sys.exit(f"perfbench: no Scala sources under {main_src}; "
                 "run from the root of a graft checkout")
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    parts = []
    digest = _stamp(files)
    for name, srcs, cp in (
            ("main", files, os.path.join(spark_jars(), "*")),
            ("harness", _sources(os.path.join(bench_dir, "harness")),
             os.path.join(spark_jars(), "*") + os.pathsep + os.path.join(target, "main.jar"))):
        out = os.path.join(target, name)
        stamp = _stamp(srcs, "".join(parts))
        stamp_file = out + ".stamp"
        if not (os.path.exists(out + ".jar") and os.path.exists(stamp_file)
                and open(stamp_file).read() == stamp):
            _compile(srcs, out, cp, out + ".log")
            _jar(out, out + ".jar")
            with open(stamp_file, "w") as f:
                f.write(stamp)
        parts.append(stamp)
    cp = os.pathsep.join(jars + [os.path.join(target, "main.jar"),
                                 os.path.join(target, "harness.jar")])
    return cp, digest[:16]
