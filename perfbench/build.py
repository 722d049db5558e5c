"""Build for the benchmark: the program with its own `sbt compile` (build.sbt
untouched), then the benchmark's Scala sources in perfbench/src compiled
against the program's runtime classpath with the Scala compiler that
classpath already carries. Outputs go to .bench_build/ in the checkout and
are reused while no source or build file changes.

    python3 perfbench/build.py      # build (or confirm up to date), print classpath
"""
import fcntl
import glob
import hashlib
import os
import subprocess
import sys

BUILD_DIR = ".bench_build"
BENCH_SRC = os.path.join("perfbench", "src")


def source_stamp(root):
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt")]
    files += glob.glob(os.path.join(root, "project", "*.sbt"))
    files += glob.glob(os.path.join(root, "project", "build.properties"))
    for base in (os.path.join(root, "src", "main"), os.path.join(root, BENCH_SRC)):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _classpath_from_sbt(out):
    for line in reversed(out.splitlines()):
        line = line.strip()
        if line.startswith("[info] "):
            line = line[len("[info] "):]
        if "scala-library" in line and os.pathsep in line:
            return line
    raise RuntimeError("sbt printed no runtime classpath")


def _compiler_jars(cp):
    entries = cp.split(os.pathsep)
    lib = [e for e in entries if os.path.basename(e).startswith("scala-library")]
    jars = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = [e for e in entries if os.path.basename(e).startswith(name + "-")]
        if not found and lib:
            found = glob.glob(os.path.join(os.path.dirname(lib[0]), name + "-*.jar"))
        if not found:
            raise RuntimeError("no %s jar beside the runtime classpath" % name)
        jars.append(found[0])
    return os.pathsep.join(jars)


def ensure_built(root, log=sys.stderr):
    """Returns the classpath (benchmark classes first) to run perfbench.Main."""
    bdir = os.path.join(root, BUILD_DIR)
    os.makedirs(bdir, exist_ok=True)
    with open(os.path.join(bdir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp(root)
        stamp_file = os.path.join(bdir, "stamp")
        cp_file = os.path.join(bdir, "classpath.txt")
        if os.path.exists(stamp_file) and os.path.exists(cp_file):
            with open(stamp_file) as fh:
                if fh.read() == stamp:
                    with open(cp_file) as fh:
                        return fh.read()
        print("perfbench: building the program (sbt compile)", file=log)
        r = subprocess.run(["sbt", "-batch", "compile", "export Runtime/fullClasspath"],
                           cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, text=True)
        if r.returncode != 0:
            print(r.stdout[-4000:], file=log)
            raise RuntimeError("sbt compile failed")
        program_cp = _classpath_from_sbt(r.stdout)
        classes = os.path.join(bdir, "classes")
        os.makedirs(classes, exist_ok=True)
        print("perfbench: compiling the benchmark", file=log)
        srcs = sorted(glob.glob(os.path.join(root, BENCH_SRC, "*.scala")))
        r = subprocess.run(["java", "-Xss8m", "-cp", _compiler_jars(program_cp),
                            "scala.tools.nsc.Main", "-nowarn", "-cp", program_cp,
                            "-d", classes] + srcs,
                           cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, text=True)
        if r.returncode != 0:
            print(r.stdout[-4000:], file=log)
            raise RuntimeError("benchmark compile failed")
        cp = classes + os.pathsep + program_cp
        with open(cp_file, "w") as fh:
            fh.write(cp)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        return cp


if __name__ == "__main__":
    print(ensure_built(os.getcwd()))
