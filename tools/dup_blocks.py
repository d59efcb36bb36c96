#!/usr/bin/env python3
"""Count a Scala file's engine code lines that sit in a repeated block.

Engine code is every non-blank line left after dropping `//` comment
lines, `/* ... */` comment blocks and triple-quoted string literals (the
DuckDB oracle SQL). A block is a window of 3 consecutive engine lines,
compared with leading/trailing whitespace stripped, whose text is at
least 90 characters long. A line counts as duplicated when some block
covering it occurs at least twice in the file.

    python3 tools/dup_blocks.py src/main/scala/graft/ext/SimilarityQueries.scala
prints `<duplicated lines> of <engine lines>`.
"""
import collections
import sys

WINDOW, MIN_CHARS = 3, 90


def engine_lines(text):
    out, in_block, in_str = [], False, False
    for line in text.splitlines():
        s = line.strip()
        if in_str:
            if s.count('"""') % 2 == 1:
                in_str = False
            continue
        if in_block:
            if "*/" in s:
                in_block = False
            continue
        if s.startswith("/*"):
            in_block = "*/" not in s
            continue
        if not s or s.startswith("//"):
            continue
        if s.count('"""') % 2 == 1:
            # code before an opening triple quote stays; the literal goes
            s = s[:s.index('"""')].strip()
            in_str = True
            if not s:
                continue
        out.append(s)
    return out


def main(path):
    lines = engine_lines(open(path, encoding="utf-8").read())
    windows = [tuple(lines[i:i + WINDOW]) for i in range(len(lines) - WINDOW + 1)]
    counts = collections.Counter(w for w in windows if len("".join(w)) >= MIN_CHARS)
    dup = set()
    for i, w in enumerate(windows):
        if counts.get(w, 0) >= 2:
            dup.update(range(i, i + WINDOW))
    print(f"{len(dup)} of {len(lines)}")


if __name__ == "__main__":
    main(sys.argv[1])
