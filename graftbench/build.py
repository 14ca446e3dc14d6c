"""Build file of the graft benchmark.

Compiles the repository's main sources (`src/main/scala`) together with the
benchmark's own sources (`graftbench/src`) into `graftbench/.build/classes`,
with the settings of the program's own build, read from `build.sbt`: its
`scalaVersion`, its `unmanagedBase` (the Spark jars it compiles and runs
against) and its `javaOptions` (which `run.py` starts the benchmark JVM
with). The compile is skipped when no source changed since the last one.
A `build.sbt` whose settings cannot be read stops the build.

    python3 graftbench/build.py        # prints the classes directory
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = BENCH / ".build"


def _sbt():
    path = ROOT / "build.sbt"
    if not path.exists():
        raise SystemExit(f"build: no {path}")
    return path.read_text()


def _setting(pattern, name):
    found = re.search(pattern, _sbt(), re.S)
    if not found:
        raise SystemExit(f"build: cannot read {name} from build.sbt")
    return found


def scala_version():
    return _setting(r'scalaVersion\s*:=\s*"([^"]+)"', "scalaVersion").group(1)


def spark_jars():
    """The program's `unmanagedBase`: the Spark jars it builds and runs with."""
    jars = _setting(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', "unmanagedBase").group(1)
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit(f"build: no Spark jars under {jars}")
    return jars


def _literal(lit, elem=None):
    """A Scala string literal of build.sbt: plain, or an s-interpolator
    using `$p` (a sequence element) and `${sys.env.getOrElse("X", "d")}`."""
    body = lit[2:-1] if lit.startswith("s") else lit[1:-1]
    if lit.startswith("s"):
        body = re.sub(r'\$\{sys\.env\.getOrElse\("(\w+)",\s*"([^"]*)"\)\}',
                      lambda m: os.environ.get(m.group(1), m.group(2)), body)
        if elem is not None:
            body = body.replace("$p", elem)
    if "$" in body:
        raise SystemExit(f"build: cannot evaluate {lit} from build.sbt")
    return body


def _strings(seq_body):
    return re.findall(r's?"(?:\$\{[^}]*\}|[^"\\]|\\.)*"', seq_body)


def java_options():
    """The program's `javaOptions`: `javaOptions ++= <term> ++ <term> ...`,
    each term a `Seq(...)` of string literals or a `val` holding one,
    optionally mapped with `.flatMap(p => Seq(...))`."""
    stmt = _setting(r'javaOptions\s*\+\+=\s*(.*?\))\s*\n(?!\s)', "javaOptions").group(1)
    opts = []
    for term in _top_level_terms(stmt):
        if term.startswith("Seq(") and term.endswith(")"):
            opts += [_literal(x) for x in _strings(term[4:-1])]
        elif re.fullmatch(r"\w+", term):
            opts += _named(term)
        else:
            raise SystemExit(f"build: cannot read javaOptions term {term!r} from build.sbt")
    if not any(o.startswith("-Xmx") for o in opts):
        raise SystemExit("build: build.sbt javaOptions set no heap (-Xmx)")
    return opts


def _top_level_terms(expr):
    """`a ++ Seq(...) ++ b` split at the `++` outside parentheses and quotes."""
    terms, depth, quoted, start, i = [], 0, False, 0, 0
    while i < len(expr):
        c = expr[i]
        if c == '"':
            quoted = not quoted
        elif not quoted and c == "(":
            depth += 1
        elif not quoted and c == ")":
            depth -= 1
        elif not quoted and depth == 0 and expr.startswith("++", i):
            terms.append(expr[start:i].strip())
            start = i + 2
            i += 1
        i += 1
    return terms + [expr[start:].strip()]


def _named(name):
    found = _setting(r"val\s+" + name + r"\s*=\s*Seq\((.*?)\)\s*(\.flatMap\(p\s*=>\s*Seq\((.*?)\)\))?\s*\n(?!\s)",
                     f"val {name}")
    elems = [_literal(x) for x in _strings(found.group(1))]
    if not found.group(2):
        return elems
    template = _strings(found.group(3))
    return [_literal(t, e) for e in elems for t in template]


def compiler_jars(version, jars):
    """scala-compiler, -library and -reflect of `version`, from the Spark jars
    or else the local coursier cache."""
    cache = os.environ.get("COURSIER_CACHE", os.path.expanduser("~/.cache/coursier"))
    out = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        jar = f"{name}-{version}.jar"
        hits = glob.glob(os.path.join(jars, jar)) or glob.glob(
            os.path.join(cache, "**", "org", "scala-lang", name, version, jar), recursive=True)
        if not hits:
            raise SystemExit(f"build: {jar} not found under {jars} or {cache}")
        out.append(hits[0])
    return out


def sources():
    main = sorted(ROOT.glob("src/main/scala/**/*.scala"))
    if not main:
        raise SystemExit(f"build: no program sources under {ROOT / 'src/main/scala'}")
    return main + sorted(BENCH.glob("src/**/*.scala"))


def build():
    jars = spark_jars()
    version = scala_version()
    java_options()  # a build.sbt the benchmark cannot run with fails here
    srcs = sources()
    digest = hashlib.sha256(version.encode())
    for f in srcs:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    classes = OUT / "classes"
    if (OUT / "stamp").exists() and (OUT / "stamp").read_text() == stamp and classes.is_dir():
        return classes
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", os.pathsep.join(compiler_jars(version, jars)),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", os.path.join(jars, "*")] + [str(f) for f in srcs]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build: compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    (OUT / "stamp").write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build())
