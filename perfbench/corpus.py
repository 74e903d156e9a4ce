"""Seeded corpora for the benchmark workloads.

Three generators, all pure functions of ``(seed, size)``:

* :func:`gen_repeated` -- rows drawn Zipf-like from a pool of about 2k
  templated documents of about 250 B (``extract_repeated``,
  ``sql_operators``);
* :func:`gen_distinct` -- all-distinct documents with deep nesting,
  long arrays, key names repeated across levels, heavy-tailed sizes and
  hostile classes (escapes, 19+-digit integers, duplicate keys, invalid
  or truncated text) at fixed rates (``extract_distinct``);
* :func:`gen_documents` -- about 1 KB plain-text documents with planted
  exact and near duplicates (``dedup_docs``).

Each JSON document is built as a :mod:`truth` node tree, so its expected
query results come from the values written, never from the engine.
"""

from __future__ import annotations

import random
import string
from dataclasses import dataclass, field

import numpy as np

from . import truth as T

# parquet files per corpus: fixed, so the files depend on the seed alone
# and not on the host's core count
N_FILES = 8

WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform "
    "victor whiskey xray yankee zulu amber basalt cobalt dune ember "
    "fjord granite harbor iris jade kelp lagoon marsh nectar opal pine "
    "quartz reef slate tundra umber vale willow yarrow zephyr"
).split()
TYPES = ("click", "view", "buy", "share", "like")
REGIONS = ("eu-west", "us-east", "ap-south", "sa-east", "af-north")
# values of the per-row ``key`` column read by the column-path queries
ROW_KEYS = ("name", "type", "note", "absent_key", None)

# escape fragments: (raw text, decoded text)
_ESCAPES = (
    ('\\"', '"'),
    ("\\\\", "\\"),
    ("\\n", "\n"),
    ("\\t", "\t"),
    ("\\/", "/"),
    ("\\u00e9", "é"),
    ("\\u4e2d", "中"),
    ("\\ud83d\\ude00", "\U0001f600"),
)


@dataclass
class ExtractCorpus:
    """Rows ``(id, key, doc)``; ``doc`` of row i is ``texts[doc_index[i]]``
    and its model is ``roots[doc_index[i]]``."""

    roots: list
    texts: list
    doc_index: np.ndarray
    keys: list
    classes: dict = field(default_factory=dict)  # class -> doc indexes

    @property
    def n_rows(self) -> int:
        return len(self.doc_index)


@dataclass
class DocCorpus:
    """Rows ``(id, text)``. ``roots``, ``doc_index`` and ``keys`` give
    it the shape of :class:`ExtractCorpus` for the checksum code."""

    texts: list
    exact_pairs: list  # (id_a, id_b), id_a < id_b, identical text

    @property
    def n_rows(self) -> int:
        return len(self.texts)

    @property
    def roots(self) -> list:
        return self.texts

    @property
    def doc_index(self) -> np.ndarray:
        return np.arange(len(self.texts), dtype=np.int64)

    @property
    def keys(self) -> list:
        return [None] * len(self.texts)


# -- small value generators ---------------------------------------------

# rng.random() based draws: several times cheaper than randint/choice,
# which dominate generation time otherwise
def _ri(rng, lo, hi):
    """Uniform integer in ``[lo, hi]``."""
    return lo + int(rng.random() * (hi - lo + 1))


def _pick(rng, seq):
    return seq[int(rng.random() * len(seq))]


def _word(rng):
    return WORDS[int(rng.random() * len(WORDS))]


def _escaped_str(rng):
    """A string whose text carries backslash escapes."""
    raw, val = [], []
    for _ in range(_ri(rng, 1, 4)):
        w = _word(rng)
        raw.append(w)
        val.append(w)
        r, v = _pick(rng, _ESCAPES)
        raw.append(r)
        val.append(v)
    return T.jstr("".join(val), '"' + "".join(raw) + '"')


def _price(rng, exp_share):
    cents = _ri(rng, 1, 999_999)
    if rng.random() < exp_share:
        # the same kind of value spelled in exponent form: raw text
        # must survive verbatim where the semantics say so
        return T.jfloat(f"{cents / 1000:.3f}e{_ri(rng, -3, 3)}")
    return T.jfloat(f"{cents // 100}.{cents % 100:02d}")


def _big_int(rng):
    digits = _ri(rng, 19, 25)
    lo = 10 ** (digits - 1)
    v = lo + rng.getrandbits(90) % (9 * lo)
    return T.jint(-v if rng.random() < 0.3 else v)


def _payload(rng, big_share=0.0):
    r = rng.random()
    if r < big_share:
        return _big_int(rng)
    r = rng.random()
    if r < 0.2:
        return T.jint(_ri(rng, -10**6, 10**6))
    if r < 0.35:
        return _price(rng, 0.2)
    if r < 0.55:
        return T.jstr(_word(rng) + str(_ri(rng, 0, 99)))
    if r < 0.65:
        return T.jbool(rng.random() < 0.5)
    if r < 0.75:
        return T.JNULL
    if r < 0.87:
        return T.jarr([T.jint(_ri(rng, 0, 99)) for _ in range(_ri(rng, 0, 4))])
    return T.jobj([("k", T.jstr(_word(rng))), ("v", T.jint(_ri(rng, 0, 9)))])


def _note_pair(rng):
    r = rng.random()
    if r < 0.6:
        return [("note", T.jstr(" ".join(_word(rng) for _ in range(_ri(rng, 1, 4)))))]
    if r < 0.8:
        return [("note", T.JNULL)]
    return []


# -- extract_repeated ------------------------------------------------------

def _templated_doc(rng, j):
    """About 250 B, plain: no escapes, big integers or duplicate keys."""
    items = [
        T.jobj([("name", T.jstr(_word(rng))), ("qty", T.jint(_ri(rng, 1, 20)))])
        for _ in range(_ri(rng, 0, 2))
    ]
    pairs = [
        ("id", T.jint(j)),
        ("name", T.jstr(f"user_{j}")),
        ("type", T.jstr(_pick(rng, TYPES))),
        ("score", T.jint(_ri(rng, -1000, 100_000))),
        ("price", _price(rng, 0.0)),
        ("active", T.jbool(rng.random() < 0.5)),
        ("seq", T.jint(_ri(rng, 10**5, 10**9))),
        ("tags", T.jarr([T.jstr(_word(rng)) for _ in range(_ri(rng, 0, 5))])),
        ("meta", T.jobj([("region", T.jstr(_pick(rng, REGIONS))),
                         ("ver", T.jint(_ri(rng, 1, 9)))])),
        ("items", T.jarr(items)),
        ("payload", _payload(rng)),
    ] + _note_pair(rng)
    return T.jobj(pairs)


def gen_repeated(seed: int, n_rows: int, pool_size: int = 2000) -> ExtractCorpus:
    rng = random.Random(seed)
    roots = [_templated_doc(rng, j) for j in range(pool_size)]
    texts = [r[2] for r in roots]
    nrng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, pool_size + 1) ** 1.1
    doc_index = nrng.choice(pool_size, size=n_rows, p=weights / weights.sum())
    keys = [ROW_KEYS[i] for i in nrng.integers(0, len(ROW_KEYS), size=n_rows)]
    return ExtractCorpus(roots, texts, doc_index.astype(np.int64), keys)


# -- extract_distinct ------------------------------------------------------

# hostile-class rates (share of documents)
ESCAPE_SHARE = 0.03
BIG_INT_SHARE = 0.01
DUP_KEY_SHARE = 0.01
INVALID_SHARE = 0.005
HUGE_SHARE = 0.01


def _nested(rng, depth, esc):
    """Object nested ``depth`` levels; the id/name/type keys repeat at
    every level, so top-level lookups of them can't take the
    unique-key fast path."""
    pairs = [("region", T.jstr(_pick(rng, REGIONS))), ("ver", T.jint(_ri(rng, 1, 9)))]
    if rng.random() < 0.7:
        pairs.append(("id", T.jint(_ri(rng, 0, 10**6))))
        pairs.append(("name", _escaped_str(rng) if esc else T.jstr(_word(rng))))
    if rng.random() < 0.5:
        pairs.append(("type", T.jstr(_pick(rng, TYPES))))
    if depth > 1:
        pairs.append(("child", _nested(rng, depth - 1, esc)))
    return T.jobj(pairs)


def _tags(rng, esc):
    n = min(50, int(rng.expovariate(1 / 4)))
    return T.jarr([
        _escaped_str(rng) if esc and rng.random() < 0.3 else T.jstr(_word(rng))
        for _ in range(n)
    ])


def _distinct_doc(rng, i):
    """One document and its hostile-class flags."""
    flags = {
        "escape": rng.random() < ESCAPE_SHARE,
        "big_int": rng.random() < BIG_INT_SHARE,
        "dup_key": rng.random() < DUP_KEY_SHARE,
        "huge": rng.random() < HUGE_SHARE,
    }
    esc = flags["escape"]
    items = [
        T.jobj([
            ("id", T.jint(_ri(rng, 0, 10**6))),
            ("name", T.jstr(_word(rng))),
            ("qty", T.jint(_ri(rng, 1, 20))),
            ("type", T.jstr(_pick(rng, TYPES))),
        ])
        for _ in range(min(8, int(rng.expovariate(1 / 1.5))))
    ]
    score = (
        T.jstr(str(_ri(rng, -1000, 100_000)))  # string-coerced int
        if rng.random() < 0.02
        else T.jint(_ri(rng, -1000, 100_000))
    )
    r = rng.random()
    active = (
        T.jbool(r < 0.45) if r < 0.9
        else T.jstr(_pick(rng, ("true", "false"))) if r < 0.95
        else T.JNULL
    )
    depth = min(5, 1 + int(rng.expovariate(1 / 0.8)))
    pairs = [
        ("id", T.jint(i)),
        ("name", _escaped_str(rng) if esc else T.jstr(f"{_word(rng)}_{i}")),
        ("type", T.jstr(_pick(rng, TYPES))),
        ("score", score),
        ("price", _price(rng, 0.1)),
        ("active", active),
        ("seq", _big_int(rng) if flags["big_int"] else T.jint(_ri(rng, 10**5, 10**12))),
        ("tags", _tags(rng, esc)),
        ("meta", _nested(rng, depth, esc)),
        ("items", T.jarr(items)),
        ("payload", _payload(rng, big_share=0.3 if flags["big_int"] else 0.0)),
    ] + _note_pair(rng)
    if flags["huge"]:
        phrase = " ".join(rng.choices(WORDS, k=64)) + " "
        pairs.append(("body", T.jstr(phrase * _ri(rng, 25, 125))))
    elif rng.random() < 0.3:
        pairs.append(("body", T.jstr(" ".join(_word(rng) for _ in range(_ri(rng, 1, 12))))))
    tail = pairs[8:]
    rng.shuffle(tail)  # member order varies after the scalars
    pairs[8:] = tail
    if flags["dup_key"]:
        # a second member under an already-used key: the first one wins
        k = _pick(rng, ("name", "score", "type", "meta"))
        pairs.insert(_ri(rng, len(pairs) // 2, len(pairs)),
                     (k, T.jstr("dup_" + _word(rng))))
    raw_keys = ['"' + k + '"' for k, _ in pairs]
    if esc and rng.random() < 0.5:
        # an escaped spelling of a queried key decodes to the key itself
        raw_keys[2] = '"typ\\u0065"'
    style = rng.random()
    sep, colon = (", ", ": ") if style < 0.6 else ((",", ":") if style < 0.9 else (",\n  ", ": "))
    root = T.jobj(pairs, sep=sep, colon=colon, raw_keys=raw_keys)
    text = root[2]
    r = rng.random()
    if r < INVALID_SHARE * 0.6:
        # invalid at member c: the members before it stay readable under
        # streaming semantics, every other lookup misses
        c = _ri(rng, 1, len(pairs) - 1)
        members = [rk + colon + n[2] for rk, (_, n) in zip(raw_keys, pairs)]
        head = "{" + sep.join(members[:c]) + sep + raw_keys[c] + colon
        text = head + _pick(rng, ("", "NaN}", "}garbage"))
        root = ("broken", pairs[:c], text)
        flags["invalid"] = True
    elif r < INVALID_SHARE * 0.8:
        text += " trailing"  # a valid document, then garbage
        flags["trailing_garbage"] = True
    elif r < INVALID_SHARE:
        root, text = None, "not json {" + _word(rng)
        flags["not_json"] = True
    return root, text, flags


CLASSES = ("escape", "big_int", "dup_key", "huge", "invalid",
           "trailing_garbage", "not_json")


def gen_distinct(seed: int, n_rows: int) -> ExtractCorpus:
    rng = random.Random(seed)
    roots, texts = [], []
    classes = {c: [] for c in CLASSES}
    for i in range(n_rows):
        root, text, flags = _distinct_doc(rng, i)
        for k, on in flags.items():
            if on:
                classes[k].append(i)
        roots.append(root)
        texts.append(text)
    nrng = np.random.default_rng(seed)
    keys = [ROW_KEYS[i] for i in nrng.integers(0, len(ROW_KEYS), size=n_rows)]
    return ExtractCorpus(roots, texts, np.arange(n_rows, dtype=np.int64), keys, classes)


# -- dedup_docs ------------------------------------------------------------

def _vocab(rng, size=4000):
    letters = string.ascii_lowercase
    out = set()
    while len(out) < size:
        out.add("".join(_pick(rng, letters) for _ in range(_ri(rng, 3, 9))))
    return sorted(out)


def _text_doc(rng, vocab):
    lines = []
    n = 0
    while n < 1000:
        line = " ".join(_pick(rng, vocab) for _ in range(_ri(rng, 6, 14)))
        lines.append(line)
        n += len(line) + 1
    return "\n".join(lines)


def gen_documents(seed: int, n_docs: int) -> DocCorpus:
    """About 1 KB documents; 3% are exact copies of an earlier document
    and 3% are near copies (one to three words replaced)."""
    rng = random.Random(seed)
    vocab = _vocab(rng)
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 0 and r < 0.03:
            j = rng.randrange(i)
            texts.append(texts[j])
        elif i > 0 and r < 0.06:
            j = rng.randrange(i)
            lines = [ln.split(" ") for ln in texts[j].split("\n")]
            for _ in range(_ri(rng, 1, 3)):
                ln = _pick(rng, lines)
                ln[rng.randrange(len(ln))] = _pick(rng, vocab)
            texts.append("\n".join(" ".join(ln) for ln in lines))
        else:
            texts.append(_text_doc(rng, vocab))
    # transitive copies of copies are duplicates too
    groups = {}
    for i, t in enumerate(texts):
        groups.setdefault(t, []).append(i)
    exact = sorted(
        (a, b) for ids in groups.values() for x, a in enumerate(ids) for b in ids[x + 1:]
    )
    return DocCorpus(texts, exact)
