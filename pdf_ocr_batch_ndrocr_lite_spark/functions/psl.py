"""publicsuffix.org rule-set loader (pure Python, no Spark).

Parses the COMPLETE published Public Suffix List — the packaged copy at
``resources/public_suffix_list.dat`` (MPL 2.0, from
https://publicsuffix.org/list/) or any caller-supplied snapshot — into
the three PSL rule classes, grouped by label count:

- normal rules (``co.jp``, ``s3.amazonaws.com``),
- wildcard rules (``*.kawasaki.jp`` → every direct child of the base is
  itself a public suffix),
- exception rules (``!city.kawasaki.jp`` → registrable despite a
  wildcard).

The grouped-by-label-count shape is what the Spark expression in
operators/curation.py consumes: matching "the rule with the most labels"
becomes a fixed CASE cascade over the last-k-labels columns, and each
rule set becomes one SQL ``IN`` list (Catalyst's OptimizeIn turns lists
past 10 entries into an O(1) hash-set probe, so a 5,000-entry registry
costs the same per row as a 5-entry one).

Internationalized rules are kept in BOTH representations: the published
Unicode form and (when the stdlib IDNA codec can produce it) the
punycode ASCII form, so hosts arriving in either representation match.

Reference parity note: the reference tool has no URL/domain logic at all
(it is a per-file OCR batch app) — this module serves the training-data
curation extension (per-registrant domain caps, SURVEY §2 curation ops).
"""

from __future__ import annotations

from functools import lru_cache
from pathlib import Path
from typing import Dict, FrozenSet, NamedTuple, Optional

BUNDLED_DAT = Path(__file__).resolve().parent.parent / "resources" \
    / "public_suffix_list.dat"


class PslRules(NamedTuple):
    """Rules grouped by label count.  ``normals[k]`` holds k-label
    suffixes; ``wildcards[k]`` holds k-label wildcard BASES (the rule
    ``*.base`` itself has k+1 labels); ``exceptions[k]`` holds k-label
    exception hosts (public suffix = the rule minus its leftmost label,
    i.e. k-1 labels)."""
    normals: Dict[int, FrozenSet[str]]
    wildcards: Dict[int, FrozenSet[str]]
    exceptions: Dict[int, FrozenSet[str]]

    @property
    def max_suffix_labels(self) -> int:
        """Longest effective public-suffix length any rule can yield."""
        n = max(self.normals, default=1)
        w = max((k + 1 for k in self.wildcards), default=1)
        return max(n, w, 1)


def _ascii_form(rule: str) -> Optional[str]:
    """Punycode form of a (possibly internationalized) rule, or None if
    the stdlib IDNA codec cannot encode a label (rare PSL entries use
    IDNA2008-only features; those stay Unicode-only)."""
    if rule.isascii():
        return None
    try:
        return ".".join(
            label.encode("idna").decode("ascii") if not label.isascii()
            else label
            for label in rule.split("."))
    except (UnicodeError, ValueError):
        return None


def parse_rules(text: str) -> PslRules:
    normals: Dict[int, set] = {}
    wildcards: Dict[int, set] = {}
    exceptions: Dict[int, set] = {}
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith("//"):
            continue
        # per spec, only the part up to the first whitespace is the rule
        rule = line.split()[0].lower()
        if rule.startswith("!"):
            target, body = exceptions, rule[1:]
        elif rule.startswith("*."):
            target, body = wildcards, rule[2:]
        else:
            target, body = normals, rule
        for form in filter(None, (body, _ascii_form(body))):
            target.setdefault(form.count(".") + 1, set()).add(form)
    return PslRules(
        normals={k: frozenset(v) for k, v in normals.items()},
        wildcards={k: frozenset(v) for k, v in wildcards.items()},
        exceptions={k: frozenset(v) for k, v in exceptions.items()},
    )


@lru_cache(maxsize=4)
def load_rules(path: Optional[str] = None) -> PslRules:
    """Load and cache the packaged dataset (or a caller-supplied dat
    snapshot — deployments refresh the registry by swapping the file)."""
    dat = Path(path) if path else BUNDLED_DAT
    return parse_rules(dat.read_text(encoding="utf-8"))
