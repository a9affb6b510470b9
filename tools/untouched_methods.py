#!/usr/bin/env python3
"""List the src/main methods that no recorded JVM run touched.

Usage:
  python3 tools/untouched_methods.py <classes-dir> <log> [<log> ...] > out.json

<classes-dir> is the compiled main output (target/scala-2.13/classes).
Each <log> holds the stdout of a JVM started with
  -XX:+UnlockDiagnosticVMOptions -XX:+LogTouchedMethods -XX:+PrintTouchedMethodsAtExit
(JDK 17 diagnostics), e.g. a `graft.Verify` run and a test-suite run.

The universe is every named, concrete method of every class under graft/.
Left out: javap's synthetic and bridge methods, TypeTag creators, lambdas
and pattern-matching anonymous functions, default-argument getters,
constructors, lazy-val initializers, static forwarders of an object's
mirror class, trait mixin forwarders, case-class boilerplate, var setters
and field accessors. A method is touched when any log prints its
`<class>.<name>:<descriptor>` line.
"""
import json
import os
import re
import subprocess
import sys

SKIP_NAMES = {"<init>", "<clinit>", "$init$", "writeReplace", "readResolve",
              "$deserializeLambda$", "productArity", "productElement",
              "productElementName", "productIterator", "productPrefix",
              "canEqual", "equals", "hashCode", "toString", "copy",
              "curried", "tupled"}
SKIP_PARTS = ("$anonfun$", "$default$", "$lzycompute", "$adapted",
              "$lzyINIT", "$extension", "_$eq", "$$")


def class_files(root):
    for dp, _, fs in os.walk(os.path.join(root, "graft")):
        for f in fs:
            if f.endswith(".class"):
                yield os.path.join(dp, f)


def methods(root):
    """{(internal class name, method name, descriptor)} of named methods."""
    files = sorted(f for f in class_files(root)
                   if "$typecreator" not in f and "$$anonfun" not in f)
    names = {os.path.relpath(f, root)[:-len(".class")] for f in files}
    blocks = {}
    for i in range(0, len(files), 200):
        text = subprocess.run(["javap", "-p", "-v"] + files[i:i + 200],
                              capture_output=True, text=True, check=True).stdout
        for block in re.split(r"\nClassfile ", text):
            m = re.search(r"\n(?:[a-z ]*)(?:class|interface) (\S+)", block)
            if m:
                blocks[m.group(1).split("<")[0].replace(".", "/")] = block
    case_classes = {c for c, b in blocks.items() if " productArity();" in b}
    out = set()
    for cls, block in blocks.items():
        mirror = cls + "$" in names
        companion = cls.endswith("$") and cls[:-1] in case_classes
        fields = set(re.findall(r"\n  [^\n(]*? (\w+);\n    descriptor: [^(\n]", block))
        heads = list(re.finditer(
            r"\n  ([^\n]*?)(\S+)\(([^)\n]*)\)[^\n]*;\n    descriptor: (\S+)\n    flags: \([^)]*\)([^\n]*)",
            block))
        for k, mm in enumerate(heads):
            _, name, args, desc, flags = mm.groups()
            body = block[mm.end():heads[k + 1].start() if k + 1 < len(heads) else len(block)]
            if any(f in flags for f in ("ACC_SYNTHETIC", "ACC_BRIDGE", "ACC_ABSTRACT")):
                continue
            if "." in name or name in SKIP_NAMES or any(p in name for p in SKIP_PARTS):
                continue
            if companion and name in ("apply", "unapply"):
                continue
            if mirror and "ACC_STATIC" in flags:
                continue
            if not args and name in fields:
                continue
            # a trait's mixin forwarder: its body calls the trait's
            # static `<name>$` implementation
            if re.search(r"InterfaceMethod \S+\." + re.escape(name) + r"\$:", body):
                continue
            out.add((cls, name, desc))
    return out


def touched(logs):
    pat = re.compile(r"(graft/[\w/$]+)\.([^:.\s]+):(\([^\s]*)")
    seen = set()
    for log in logs:
        with open(log, errors="replace") as f:
            for line in f:
                for m in pat.finditer(line):
                    seen.add(m.groups())
    return seen


def main():
    root, logs = sys.argv[1], sys.argv[2:]
    universe = methods(root)
    hit = touched(logs)
    untouched = sorted(universe - hit)
    json.dump({
        "methods": len(universe),
        "touched": len(universe & hit),
        "untouched_count": len(untouched),
        "untouched": [f"{c.replace('/', '.')}.{n}{d}" for c, n, d in untouched],
    }, sys.stdout, indent=1)
    print()


if __name__ == "__main__":
    main()
