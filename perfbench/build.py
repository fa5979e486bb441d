"""Build file of the benchmark: compiles graft (`src/main/scala`) and the
benchmark (`perfbench/src`) from source with the Scala compiler that
ships in Spark's jars, into `.bench_build/classes-<hash of the sources>`.
A build whose sources are unchanged is reused.

    python3 perfbench/build.py          # prints the class directory
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent


def spark_jars() -> str:
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("set SPARK_HOME to a Spark installation")
    jars = pathlib.Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"no Spark jars with a Scala compiler under {jars}")
    return str(jars / "*")


def sources() -> list:
    graft = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not graft:
        raise SystemExit("no graft sources under src/main/scala")
    return graft + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))


def build() -> pathlib.Path:
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    out = ROOT / ".bench_build" / f"classes-{digest.hexdigest()[:16]}"
    if (out / ".ok").exists():
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jars = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-deprecation:false", "-d", str(tmp), "-classpath", jars]
    cmd += [str(p) for p in srcs]
    try:
        if subprocess.run(cmd, stdout=sys.stderr, timeout=600).returncode != 0:
            raise SystemExit("scalac failed")
        (tmp / ".ok").touch()
        if not (out / ".ok").exists():
            shutil.rmtree(out, ignore_errors=True)
            tmp.rename(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build())
