"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) together with the benchmark's JVM
side (`perfbench/src`) using the Scala compiler that ships in the Spark
distribution's jars, copies `src/main/resources` beside the classes and
packs them into `program.jar`. The program's own build is `build.sbt`;
this build refuses to run when its Scala version differs from the one
`build.sbt` names, and passes `build.sbt`'s `scalacOptions` to the
compiler, so both compile the same sources the same way.

After compiling, a short training run (`perfbench.CdsTrain`: a session
and a small parquet round trip) writes a class-data-sharing archive of
the JVM and Spark classes it loads. Every benchmark JVM maps it, which
cuts class loading from each cold start; the program's own classes and
the workloads' code paths are not in it and still load at set-up.

A digest of every input file is stamped next to the output; an unchanged
tree is not built again.

    python3 perfbench/build.py      # from the repository root
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one beside `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise RuntimeError("no Spark distribution with a Scala compiler found: set SPARK_HOME")
    return jars


def sbt_settings(root, jars):
    """The scalac options of `build.sbt`, after checking that its Scala
    version is the one of the compiler in `jars`."""
    with open(os.path.join(root, "build.sbt")) as f:
        sbt = f.read()
    m = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', sbt)
    compiler = glob.glob(os.path.join(jars, "scala-compiler-*.jar"))[0]
    have = os.path.basename(compiler)[len("scala-compiler-"):-len(".jar")]
    if not m or m.group(1) != have:
        raise RuntimeError(f"build.sbt names Scala {m.group(1) if m else '?'}, "
                           f"the Spark distribution ships {have}")
    opts = []
    for line in sbt.splitlines():
        if "scalacOptions" not in line:
            continue
        code = line.split("//")[0]
        lits = re.findall(r'"([^"]*)"', code)
        rest = re.sub(r'"[^"]*"', "", code)
        if not re.fullmatch(r'\s*(\w+\s*/\s*)*scalacOptions\s*(\+\+=|\+=|:=)\s*(Seq\()?[\s,]*\)?\s*,?\s*',
                            rest):
            raise RuntimeError(f"build.sbt: cannot read scalacOptions from: {line.strip()}")
        opts += lits
    return opts


def inputs(root):
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    res = sorted(p for p in glob.glob(os.path.join(root, "src/main/resources/**"), recursive=True)
                 if os.path.isfile(p))
    return srcs + bench, res


def jvm_opens():
    """The --add-opens flags Spark needs on JDK 17 outside spark-submit
    (the list build.sbt passes)."""
    pkgs = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
            "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
            "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    return [a for p in pkgs for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def classpath(out_dir):
    return os.path.join(out_dir, "program.jar") + os.pathsep + os.path.join(spark_jars(), "*")


def archive(out_dir):
    """The class-data-sharing archive, or None when the JVM could not
    write one."""
    p = os.path.join(out_dir, "program.jsa")
    return p if os.path.exists(p) else None


def _train_archive(out_dir):
    jsa = os.path.join(out_dir, "program.jsa")
    work = os.path.join(out_dir, "cds-train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xmx1g", f"-XX:ArchiveClassesAtExit={jsa}", "-Xlog:cds=off",
            "-Xlog:cds+dynamic=off"] + jvm_opens()
           + ["-Dspark.ui.enabled=false", f"-Dspark.local.dir={work}/local",
              f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath(out_dir),
              "perfbench.CdsTrain", work])
    try:
        proc = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              text=True, timeout=300)
        ok = proc.returncode == 0
    except subprocess.TimeoutExpired:
        ok = False
    shutil.rmtree(work, ignore_errors=True)
    if not ok and os.path.exists(jsa):
        os.remove(jsa)


def build(root, out_dir):
    """Builds `program.jar` (and its archive) unless no input changed;
    returns the classpath to run it with."""
    out_dir = os.path.abspath(out_dir)
    sources, resources = inputs(root)
    if not any("/src/main/scala/" in s for s in sources):
        raise RuntimeError(f"no program sources under {root}/src/main/scala")
    jars = spark_jars()
    opts = sbt_settings(root, jars)
    digest = hashlib.sha256()
    for p in [os.path.join(root, "build.sbt")] + sources + resources:
        digest.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    stamp = digest.hexdigest()
    jar = os.path.join(out_dir, "program.jar")
    stamp_file = os.path.join(out_dir, "program.stamp")
    if os.path.exists(jar) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classpath(out_dir)
    for p in (stamp_file, jar, os.path.join(out_dir, "program.jsa")):
        if os.path.exists(p):
            os.remove(p)
    tmp = os.path.join(out_dir, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = (["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn"] + opts
           + ["-d", tmp, "-classpath", cp] + sources)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise RuntimeError("compilation failed:\n" + proc.stdout[-4000:])
    res_root = os.path.join(root, "src/main/resources")
    for p in resources:
        dst = os.path.join(tmp, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(tmp)):
            for name in sorted(files):
                p = os.path.join(d, name)
                z.write(p, os.path.relpath(p, tmp))
    os.rename(jar + ".tmp", jar)
    shutil.rmtree(tmp, ignore_errors=True)
    _train_archive(out_dir)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath(out_dir)


if __name__ == "__main__":
    root = os.getcwd()
    try:
        print(build(root, os.path.join(root, ".bench_build")))
    except RuntimeError as e:
        sys.exit(str(e))
