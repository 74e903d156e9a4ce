"""Ground-truth JSON model for the benchmark corpora.

The generator builds every document as a tree of nodes that carry both
the decoded value and the exact text written for it, so the expected
result of each JSON function follows from what was written, under the
repo's documented semantics (SURVEY.md section 2, PARITY.md). Nothing
here calls the engine.

Node layout: ``(kind, value, raw)``

* ``"obj"``: value is the list of ``(decoded_key, node)`` pairs in
  document order, duplicates kept;
* ``"arr"``: value is the list of item nodes;
* ``"str"``, ``"int"``, ``"float"``, ``"bool"``, ``"null"``: the decoded
  scalar;
* ``"broken"``: an object whose text stops being valid JSON at one of
  its members. ``value`` holds the members before that point; lookups
  of any other key miss, because the streaming scan fails on reaching
  the bad member.

A document is a root node, or ``None`` for text that is not JSON.
"""

from __future__ import annotations

import json
import math

INT64_MIN = -(2**63)
INT64_MAX = 2**63 - 1


# -- node builders -----------------------------------------------------

def jstr(value: str, raw: str | None = None):
    if raw is None:
        raw = '"' + value + '"'  # callers pass escape-free text
    return ("str", value, raw)


def jint(value: int):
    return ("int", value, str(value))


def jfloat(raw: str):
    return ("float", float(raw), raw)


def jbool(value: bool):
    return ("bool", value, "true" if value else "false")


JNULL = ("null", None, "null")


def jarr(items, sep=", "):
    return ("arr", items, "[" + sep.join(n[2] for n in items) + "]")


def jobj(pairs, sep=", ", colon=": ", raw_keys=None):
    """``raw_keys`` gives the written (possibly escaped) key text per
    pair; default is the plain quoted key."""
    keys = raw_keys or ['"' + k + '"' for k, _ in pairs]
    body = sep.join(rk + colon + n[2] for rk, (_, n) in zip(keys, pairs))
    return ("obj", pairs, "{" + body + "}")


# -- lookups (first match wins, streaming semantics) -------------------

def lookup(root, path):
    """The node at ``path`` or ``None`` when the path misses."""
    node = root
    if node is None:
        return None
    for p in path:
        kind = node[0]
        if isinstance(p, str):
            if kind not in ("obj", "broken"):
                return None
            for k, child in node[1]:
                if k == p:
                    node = child
                    break
            else:
                return None
        else:
            if kind != "arr" or not 0 <= p < len(node[1]):
                return None
            node = node[1][p]
    if node[0] == "broken":
        return None  # its own text never closes
    return node


# -- Rust-style string coercions (reference str::parse) ----------------

def rust_parse_int(s: str):
    body = s[1:] if s[:1] in ("+", "-") else s
    if not body or not body.isascii() or not body.isdigit():
        return None
    v = int(s)
    return v if INT64_MIN <= v <= INT64_MAX else None


def rust_parse_float(s: str):
    if not s or s != s.strip() or "_" in s:
        return None
    low = s.lower()
    body = low[1:] if low[0] in "+-" else low
    if body in ("inf", "infinity"):
        return -math.inf if low[0] == "-" else math.inf
    if body == "nan":
        return math.nan
    try:
        return float(s)
    except ValueError:
        return None


def rust_parse_bool(s: str):
    return {"true": True, "false": False}.get(s)


# -- the JSON functions over the model ---------------------------------

def get_str(root, path):
    n = lookup(root, path)
    return n[1] if n is not None and n[0] == "str" else None


def get_int(root, path):
    n = lookup(root, path)
    if n is None:
        return None
    if n[0] == "int":
        return n[1] if INT64_MIN <= n[1] <= INT64_MAX else None
    if n[0] == "str":
        return rust_parse_int(n[1])
    return None


def get_float(root, path):
    n = lookup(root, path)
    if n is None:
        return None
    if n[0] == "float":
        return n[1]
    if n[0] == "int":
        return float(n[1])
    if n[0] == "str":
        return rust_parse_float(n[1])
    return None


def get_bool(root, path):
    n = lookup(root, path)
    if n is None:
        return None
    if n[0] == "bool":
        return n[1]
    if n[0] == "str":
        return rust_parse_bool(n[1])
    return None


def as_text(root, path):
    n = lookup(root, path)
    if n is None or n[0] == "null":
        return None
    return n[1] if n[0] == "str" else n[2]


def get_json(root, path):
    n = lookup(root, path)
    return None if n is None else n[2]


def contains(root, path):
    return lookup(root, path) is not None


def length(root, path):
    n = lookup(root, path)
    if n is None or n[0] not in ("arr", "obj"):
        return None
    return len(n[1])


def object_keys(root, path):
    n = lookup(root, path)
    return [k for k, _ in n[1]] if n is not None and n[0] == "obj" else None


def get_array(root, path):
    n = lookup(root, path)
    return [c[2] for c in n[1]] if n is not None and n[0] == "arr" else None


def _in_null_arm(n):
    return (
        n is None
        or n[0] == "null"
        or (n[0] == "int" and not INT64_MIN <= n[1] <= INT64_MAX)
    )


def union_to_text(root, path):
    """``json_union_to_text(json_get(j, *path))``."""
    n = lookup(root, path)
    if _in_null_arm(n):
        return None
    kind, v, raw = n
    if kind == "bool":
        return raw
    if kind == "int":
        return str(v)
    if kind == "float":
        return "null" if not math.isfinite(v) else json.dumps(v)
    if kind == "str":
        return json.dumps(v, ensure_ascii=False)
    return raw  # containers pass through verbatim


def union_is_null(root, path):
    """``json_is_null(json_get(j, *path))``."""
    return _in_null_arm(lookup(root, path))
