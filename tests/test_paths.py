"""Nothing in the checkout depends on where it is checked out: every
module, test and script finds the package and its data from `__file__`."""

from __future__ import annotations

import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# built in pieces so this file does not contain it
CHECKOUT_LITERAL = "/root" + "/repo"


def test_no_python_file_names_the_checkout_path():
    hits = []
    for d, subs, names in os.walk(ROOT):
        subs[:] = [s for s in subs if not s.startswith((".", "__pycache__"))]
        for n in names:
            if n.endswith(".py"):
                path = os.path.join(d, n)
                with open(path, encoding="utf-8") as fh:
                    if CHECKOUT_LITERAL in fh.read():
                        hits.append(os.path.relpath(path, ROOT))
    assert hits == []
