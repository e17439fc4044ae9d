#!/usr/bin/env python3
"""README quote gate: README numbers must equal the artifacts they quote.

A number README.md takes from a committed BENCH_STREAM*.json is followed
directly by a marker naming the file and the value's path in it:

    **205,839<!-- BENCH_STREAM.json:value --> events/sec sustained**
    p50 295<!-- BENCH_STREAM_LATENCY.json:sweep.0.p50 --> ms

A path is dot-separated; an integer segment indexes a list. The quoted
number may carry thousands separators, and it matches when it equals the
file's value rounded to the decimals it is written with. The gate exits
1 when any quote differs from its file, names a path or file that does
not exist, or when README carries no quote at all; otherwise it prints
one line per quote and exits 0.

Usage:
    python3 tools/readme_numbers.py [README.md]
"""
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUOTE = re.compile(
    r"(?P<num>-?\d[\d,]*(?:\.\d+)?)?<!--\s*(?P<file>BENCH_STREAM\w*\.json):(?P<path>\S+)\s*-->")


def lookup(doc, path):
    for seg in path.split("."):
        doc = doc[int(seg)] if isinstance(doc, list) else doc[seg]
    return doc


def check(readme):
    with open(readme) as fh:
        text = fh.read()
    docs, problems, seen = {}, [], 0
    for m in QUOTE.finditer(text):
        seen += 1
        line = text.count("\n", 0, m.start()) + 1
        where = f"README line {line}: {m['file']}:{m['path']}"
        if m["num"] is None:
            problems.append(f"{where}: no number right before the marker")
            continue
        try:
            if m["file"] not in docs:
                with open(os.path.join(os.path.dirname(os.path.abspath(readme)), m["file"])) as fh:
                    docs[m["file"]] = json.load(fh)
            value = float(lookup(docs[m["file"]], m["path"]))
        except (OSError, KeyError, IndexError, ValueError, TypeError) as e:
            problems.append(f"{where}: cannot read the quoted value ({e!r})")
            continue
        quoted = m["num"].replace(",", "")
        decimals = len(quoted.split(".")[1]) if "." in quoted else 0
        if round(value, decimals) != float(quoted):
            problems.append(f"{where}: README says {m['num']}, the file says {value:g}")
        else:
            print(f"ok  {where} = {m['num']}")
    if seen == 0:
        problems.append("README quotes no BENCH_STREAM*.json number")
    return problems


def main():
    readme = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, "README.md")
    problems = check(readme)
    for p in problems:
        print(f"STALE {p}")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
