"""Shared marker-splice for the bench scripts that maintain generated
sections of BENCH/BASELINE.md (highdiam, hubskew, bucketed): replace the
text between a begin/end marker pair, appending the whole block if the
markers are not present yet. One implementation so splice semantics
can't drift between scripts."""

from __future__ import annotations


def splice_md(path: str, begin_mark: str, end_mark: str, generated: str) -> None:
    """``generated`` must include the markers themselves."""
    try:
        text = open(path, encoding="utf-8").read()
    except FileNotFoundError:
        text = ""
    if begin_mark in text and end_mark in text:
        pre, rest = text.split(begin_mark, 1)
        _, post = rest.split(end_mark, 1)
        new = pre + generated + post
    else:
        new = (text.rstrip() + "\n\n" if text else "") + generated + "\n"
    with open(path, "w", encoding="utf-8") as f:
        f.write(new)
    print(f"wrote {path}")
