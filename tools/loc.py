#!/usr/bin/env python3
"""Line counts of the engine's Scala sources, by kind.

    python3 tools/loc.py [ROOT]

ROOT defaults to src/main of the checkout this script sits in. Every
line of every .scala file under ROOT is counted as exactly one of:

- sql: the line begins inside a triple-quoted string (the engine writes
  its SQL and oracle SQL that way), so a string's body and closing line
  count here and its opening line counts as code;
- blank: whitespace only;
- comment: everything outside whitespace is a `//` or `/* */` comment;
- code: anything else, including code that carries a trailing comment.

Prints one `kind lines` row per kind and the total, so two checkouts
compare by running it in each.
"""
import pathlib
import sys

CODE, LINE_COMMENT, BLOCK_COMMENT, STRING, TRIPLE = range(5)


def classify(text):
    """Yield one kind per line of Scala source `text`."""
    state, depth, i, n = CODE, 0, 0, len(text)
    touched_code = touched_comment = touched_sql = False

    def kind():
        if touched_sql:
            return "sql"
        if touched_code:
            return "code"
        return "comment" if touched_comment else "blank"

    while i < n:
        c = text[i]
        if c == "\n":
            yield kind()
            if state == LINE_COMMENT:
                state = CODE
            touched_code = touched_comment = False
            touched_sql = state == TRIPLE
            i += 1
            continue
        if state == TRIPLE:
            if text.startswith('"""', i):
                # a run of more than three quotes closes on its last three
                j = i + 3
                while j < n and text[j] == '"':
                    j += 1
                state, i = CODE, j
            else:
                i += 1
        elif state == LINE_COMMENT:
            touched_comment = touched_comment or not c.isspace()
            i += 1
        elif state == BLOCK_COMMENT:
            touched_comment = touched_comment or not c.isspace()
            if text.startswith("*/", i):
                depth -= 1
                state = CODE if depth == 0 else BLOCK_COMMENT
                i += 2
            elif text.startswith("/*", i):
                depth += 1
                i += 2
            else:
                i += 1
        elif state == STRING:
            touched_code = True
            if c == "\\":
                i += 2
            else:
                state = CODE if c == '"' else STRING
                i += 1
        elif c.isspace():
            i += 1
        elif text.startswith("//", i):
            state, touched_comment = LINE_COMMENT, True
            i += 2
        elif text.startswith("/*", i):
            state, depth, touched_comment = BLOCK_COMMENT, 1, True
            i += 2
        elif text.startswith('"""', i):
            state, touched_code = TRIPLE, True
            i += 3
        elif c == '"':
            state, touched_code = STRING, True
            i += 1
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            # a char literal: 'x' or an escape such as '\n' or '\''
            end = text.find("'", i + 3 if text[i + 1] == "\\" else i + 2)
            touched_code = True
            i = end + 1 if end > 0 else i + 1
        else:
            touched_code = True
            i += 1
    if not text.endswith("\n") and text:
        yield kind()


def count(root):
    totals = {"code": 0, "comment": 0, "sql": 0, "blank": 0}
    for f in sorted(pathlib.Path(root).rglob("*.scala")):
        for k in classify(f.read_text(encoding="utf-8")):
            totals[k] += 1
    return totals


def main():
    default = pathlib.Path(__file__).resolve().parent.parent / "src" / "main"
    root = sys.argv[1] if len(sys.argv) > 1 else default
    totals = count(root)
    for k in ("code", "comment", "sql", "blank"):
        print(f"{k} {totals[k]}")
    print(f"total {sum(totals.values())}")


if __name__ == "__main__":
    main()
