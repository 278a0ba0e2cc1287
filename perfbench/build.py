"""Build of the benchmark: compiles the program's sources (`src/main/scala`)
and the benchmark's own (`perfbench/src`) into one jar, with the
Scala compiler that ships among Spark's jars. No dependency resolution and no
network: everything comes from the Spark distribution the program builds
against. A stamp of the source contents skips the compile when nothing
changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the program's build.sbt."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    raise RuntimeError("Spark jars not found: set SPARK_HOME")


def sources(root):
    found = []
    for base in ("src/main/scala", "perfbench/src"):
        found += glob.glob(os.path.join(root, base, "**", "*.scala"), recursive=True)
    return sorted(found)


def build(root, out_dir, log):
    """Compile if needed; return the benchmark jar."""
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        raise RuntimeError("no program sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    jar = os.path.join(out_dir, "perfbench.jar")
    stamp_file = os.path.join(out_dir, "perfbench.stamp")
    if os.path.exists(jar) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return jar
    jars = spark_jars(root)
    compiler = [glob.glob(os.path.join(jars, f"scala-{p}-2.*.jar")) for p in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise RuntimeError(f"no Scala compiler among {jars}")
    tmp = os.path.join(out_dir, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", ":".join(c[0] for c in compiler), "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    log(f"compiling {len(srcs)} sources")
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        raise RuntimeError("compile failed:\n" + r.stdout[-4000:])
    # one jar with the program's resources: a class-data-sharing archive
    # (see run.py) only accepts jars on the class path
    r = subprocess.run(["jar", "--create", "--file", tmp + ".jar", "-C", tmp, ".",
                        "-C", os.path.join(root, "src", "main", "resources"), "."],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise RuntimeError("jar failed:\n" + r.stdout[-4000:])
    shutil.rmtree(tmp, ignore_errors=True)
    os.replace(tmp + ".jar", jar)
    for stale in glob.glob(os.path.join(out_dir, "*.jsa")):
        os.remove(stale)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return jar


def classpath(root, jar):
    return ":".join([jar, os.path.join(spark_jars(root), "*")])
