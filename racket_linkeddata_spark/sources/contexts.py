"""Driver-side remote-context prefetch -> broadcast dict.

The reference's pluggable context loader supports a pinned url-map and a
no-network mode that hard-errors on unknown urls (#:url-map /
#:load-unknown-urls? #f, json-ld.rkt:84-117). At cluster scale the same
policy holds: contexts are fetched ONCE on the driver (or supplied
pinned), broadcast, and executors never do network I/O.
"""

from __future__ import annotations

from typing import Any, Callable, Dict, Iterable, Optional


def prefetch_contexts(
    urls: Iterable[str],
    fetch: Optional[Callable[[str], Any]] = None,
    pinned: Optional[Dict[str, Any]] = None,
) -> Dict[str, Any]:
    """Resolve every context url up front. ``pinned`` entries win;
    remaining urls go through ``fetch`` (e.g. an HTTP getter on the
    driver). With no fetch function, unknown urls are a hard error —
    the reference's #:load-unknown-urls? #f mode; never fetch lazily
    on executors."""
    out: Dict[str, Any] = dict(pinned or {})
    missing = [u for u in urls if u not in out]
    if missing and fetch is None:
        raise KeyError(
            f"no fetch function and {len(missing)} unpinned context "
            f"url(s), first: {missing[0]}")
    for url in missing:
        doc = fetch(url)
        if not isinstance(doc, dict) or "@context" not in doc:
            from ..core.context import JsonLdError

            raise JsonLdError("invalid remote context", url)
        out[url] = doc
    return out
