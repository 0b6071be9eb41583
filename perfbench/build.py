"""Build file of the benchmark: compiles the program (src/main/scala of the
checkout) together with the benchmark's own Scala sources (perfbench/src)
with the Scala compiler that ships among the Spark jars the sbt build
already uses (`unmanagedBase` in build.sbt, or $SPARK_HOME/jars).  sbt
itself is not needed, which keeps a cold build well under a minute.

Output goes to .bench_build/perfbench/classes; a stamp over every source
file skips the compile when nothing changed.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase and SPARK_HOME is unset")
    return m.group(1)


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"no program sources under {main}")
    found = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return found


def build():
    """Compile if needed; return the runtime classpath string."""
    jars_dir = spark_jars()
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    compiler = [j for j in jars if re.search(r"scala-(compiler|library|reflect)-2\.13", j)]
    if len(compiler) != 3:
        raise SystemExit(f"Scala 2.13 compiler jars not found in {jars_dir}")
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(OUT, ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(OUT, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
               "scala.tools.nsc.Main", "-nowarn", "-d", classes,
               "-classpath", ":".join(jars), "@" + argfile]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-20000:])
            raise SystemExit(f"compile failed with code {r.returncode}")
        resources = os.path.join(ROOT, "src", "main", "resources")
        if os.path.isdir(resources):
            shutil.copytree(resources, classes, dirs_exist_ok=True)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return ":".join([classes] + jars)


if __name__ == "__main__":
    print(build())
