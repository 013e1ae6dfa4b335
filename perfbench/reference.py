"""Reference answers for the correctness gate: the program's own
``SearchApp``, in this process, one client, one request at a time.

    python perfbench/reference.py STORE REQUESTS.json OUT.json

REQUESTS.json is a list of generated requests; OUT.json gets the list of
their result bodies, in order, as the server would serialise them.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(ROOT), str(ROOT / "scripts")]

import serve  # noqa: E402


def main() -> None:
    store, src, dst = sys.argv[1:4]
    app = serve.SearchApp(store)
    with open(src) as f:
        reqs = json.load(f)
    out = [app.search(q=r["q"], k=r["k"], mode=r.get("mode", "or"),
                      highlight=bool(r.get("highlight")), fuzzy=bool(r.get("fuzzy")),
                      prefix_length=int(r.get("prefix", 0)), offset=int(r.get("from", 0)))
           for r in reqs]
    with open(dst, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
