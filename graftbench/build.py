"""Build file of the benchmark: compiles the engine's sources and the
benchmark's own into one class directory with the Scala compiler that
ships in the Spark distribution. A stamp of every source file's content
skips the compile when nothing changed."""
import hashlib
import os
import shutil
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME, or else the
    pip-installed pyspark package, which carries the same jars."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
        except ImportError:
            raise FileNotFoundError("no Spark distribution: set SPARK_HOME")
        home = os.path.dirname(pyspark.__file__)
    return os.path.join(home, "jars")


def sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, build_dir):
    """Compile into <build_dir>/classes; returns that path. Raises
    FileNotFoundError when the engine's sources are absent."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise FileNotFoundError("engine sources (src/main/scala/graft) not found")
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(spark_jars(), "*")
    # one compiler JVM: -Xss for the deep typer recursion in the engine's
    # larger objects
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
                    "scala.tools.nsc.Main",
                    "-nowarn", "-d", classes, "-cp", cp] + srcs,
                   check=True, stdout=subprocess.DEVNULL)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes
