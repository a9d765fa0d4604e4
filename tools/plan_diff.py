#!/usr/bin/env python3
"""Per-op physical-plan diff of two source trees.

A refactor that claims "no plan changes" is checked by dumping the
formatted physical plan of every declared op (`graft.Explain`) from both
trees and comparing the dumps op by op after masking what varies from run
to run without being part of the plan.

    # one dump per tree (runs sbt in <checkout>; all op keys, local[8])
    python3 tools/plan_diff.py dump <checkout> <sfDir> <out.txt>
    # masked per-op comparison; exit status 1 when any op differs
    python3 tools/plan_diff.py diff <a.txt> <b.txt> [key ...]

Masked: expression ids (`#123`), source call sites (`Foo.scala:42`, the
file included, since moving a builder between files moves it), object
hashes (`@1a2b3c`), lambda class names, `plan_id=`, `RDD[n]`, UUIDs
(streaming run ids, temp names), epoch-millisecond timestamps, and the
checkout and temp-dir paths written into each dump's header. Keys named
after `diff` restrict the comparison to those ops.

Never run two dumps from one checkout at once: they share its
`spark-warehouse/`. Each dump gets its own `java.io.tmpdir` under the
output file's directory, so dumps of two checkouts may run side by side.
"""
import argparse
import difflib
import os
import re
import shutil
import subprocess
import sys

HEADERS = ("checkout", "tmpdir")  # "# <name>: <path>" lines masked as <name>
KEY_DECL = re.compile(r'^\s*"([a-z0-9_]+)"\s*->\s*\(', re.M)
SECTION = re.compile(r"^==== (\S+) ====$")

MASKS = [
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "<uuid>"),
    (re.compile(r"\$*Lambda[$\w/]*"), "<lambda>"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@<hash>"),
    (re.compile(r"\b[A-Za-z]\w*\.scala:\d+"), "<site>"),
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"\b1[5-9]\d{11}\b"), "<epoch_ms>"),
]


def op_keys(checkout):
    keys = set()
    for root, _, files in os.walk(os.path.join(checkout, "src", "main", "scala")):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(root, f), encoding="utf-8") as fh:
                    keys.update(KEY_DECL.findall(fh.read()))
    return sorted(keys)


def dump(checkout, sf_dir, out):
    checkout = os.path.abspath(checkout)
    out = os.path.abspath(out)
    tmp = out + ".tmpdir"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    keys = op_keys(checkout)
    cmd = ["sbt", "-batch",
           f'set javaOptions += "-Djava.io.tmpdir={tmp}"',
           f"runMain graft.Explain {os.path.abspath(sf_dir)} {','.join(keys)}"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(out, "w", encoding="utf-8") as fh, open(out + ".log", "w") as log:
        fh.write(f"# checkout: {checkout}\n# tmpdir: {tmp}\n")
        fh.flush()
        rc = subprocess.run(cmd, cwd=checkout, env=env, stdout=fh, stderr=log).returncode
    shutil.rmtree(tmp, ignore_errors=True)
    got = len(parse(out))
    print(f"{out}: {got}/{len(keys)} ops, sbt exit {rc}")
    return 0 if rc == 0 and got == len(keys) else 1


def mask(line, paths):
    for name, path in paths.items():
        line = line.replace(path, f"<{name}>")
    for rx, rep in MASKS:
        line = rx.sub(rep, line)
    return line


def parse(path):
    """{op key: [masked plan lines]}; lines before the first section skipped."""
    ops, cur, paths = {}, None, {}
    with open(path, encoding="utf-8", errors="replace") as fh:
        for raw in fh:
            line = raw.rstrip("\n")
            if cur is None and line.startswith("# ") and ": " in line:
                name, p = line[2:].split(": ", 1)
                if name in HEADERS:
                    paths[name] = p
                    continue
            m = SECTION.match(line)
            if m:
                cur = ops.setdefault(m.group(1), [])
                continue
            if cur is not None:
                cur.append(mask(line, paths))
    return ops


def diff(a_path, b_path, only):
    a, b = parse(a_path), parse(b_path)
    keys = sorted(set(a) | set(b))
    if only:
        keys = [k for k in keys if k in set(only)]
    missing = [k for k in keys if k not in a or k not in b]
    changed = [k for k in keys if k in a and k in b and a[k] != b[k]]
    for k in changed:
        print(f"---- {k}")
        sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
            a[k], b[k], a_path, b_path, n=2, lineterm=""))
    for k in missing:
        print(f"---- {k}: only in {a_path if k in a else b_path}")
    print(f"compared {len(keys) - len(missing)} ops: {len(changed)} differ, "
          f"{len(missing)} in one dump only"
          + (f" ({', '.join(changed + missing)})" if changed or missing else ""))
    return 1 if changed or missing else 0


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    d = sub.add_parser("dump", help="graft.Explain every op key of a checkout")
    d.add_argument("checkout")
    d.add_argument("sf_dir")
    d.add_argument("out")
    c = sub.add_parser("diff", help="masked per-op comparison of two dumps")
    c.add_argument("a")
    c.add_argument("b")
    c.add_argument("keys", nargs="*")
    args = p.parse_args()
    if args.cmd == "dump":
        return dump(args.checkout, args.sf_dir, args.out)
    return diff(args.a, args.b, args.keys)


if __name__ == "__main__":
    sys.exit(main())
