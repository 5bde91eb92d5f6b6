"""The engine's one plan memo (``sparql.eval.query``, ``spark_triples``).

A large plan costs many py4j round trips to build (about 3s for the
headline aggregate query), so a repeated build reuses it, like a prepared
statement.  Plans only, never data: every action on a plan recomputes
from its sources.  Owners (a DataFrame or a SparkSession) are weak, and
each keeps its newest :data:`CAP` plans.  A key holds everything its plan
depends on; a build that depends on anything else is not stored.
"""

import os
import weakref
from collections import OrderedDict
from typing import Any, Callable, Hashable, Optional, Tuple

CAP = 32
_PLANS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def plan(owner: Any, key: Hashable, build: Callable[[], Tuple[Any, bool]]) -> Any:
    """The plan stored for ``(owner, key)``, else ``build()``'s plan,
    stored only when ``build()`` also returns ``keep=True``."""
    per = _PLANS.setdefault(owner, OrderedDict())
    if key in per:
        per.move_to_end(key)
        return per[key]
    value, keep = build()
    if keep:
        per[key] = value
        if len(per) > CAP:
            per.popitem(last=False)
    return value


def listing(path: str) -> Optional[tuple]:
    """Sorted ``(file, size, mtime_ns)`` of the files under a local
    ``path``; None when ``os`` cannot list it (another URI scheme, a
    missing path)."""
    files = [path] if os.path.isfile(path) else [
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
    ]
    try:
        stats = sorted((f, os.stat(f)) for f in files)
    except OSError:  # removed while listing
        return None
    return tuple((f, s.st_size, s.st_mtime_ns) for f, s in stats) or None
