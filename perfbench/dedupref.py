"""Independent checks for the ``dedup_docs`` pair operators.

The benchmark recomputes what each reported pair claims from the
document texts alone: the Jaccard similarity of the two documents'
character 5-gram sets, and the Hamming distance of their 64-bit SimHash
over distinct whitespace tokens hashed with xxHash64 (seed 42, the hash
Spark's ``xxhash64`` computes), taken from the package's pure-Python
``oracle_twin``, which shares no code with the Spark operators and is
pinned to the xxHash test vectors and to Spark.
"""

from __future__ import annotations

from datafusion_functions_json_spark.oracle_twin import xxh64_str

_M = (1 << 64) - 1

# minhash verifies with Jaccard over 31-bit shingle hashes; a hash
# collision moves it by about 1/shingles (~1e-3 for 1 KB documents)
JACCARD_TOLERANCE = 0.01


def shingles(text: str, n: int = 5) -> set:
    """Distinct character n-grams; a short text is its own shingle."""
    return {text[i:i + n] for i in range(max(len(text) - n + 1, 1))}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def simhash(text: str) -> int:
    """Unsigned 64-bit SimHash over the distinct whitespace tokens."""
    votes = [0] * 64
    for tok in set(text.split()):
        h = xxh64_str(tok) & _M
        for b in range(64):
            votes[b] += 1 if (h >> b) & 1 else -1
    return sum(1 << b for b in range(64) if votes[b] > 0)


class PairVerifier:
    """Checks pair results against the texts and the planted exact
    duplicates; a result already verified is not checked twice."""

    def __init__(self, texts, exact_pairs, threshold=0.7, max_hamming=3):
        self.texts = texts
        self.exact = set(exact_pairs)
        self.threshold = threshold
        self.max_hamming = max_hamming
        self._seen = {}
        self._simhash = {}

    def _cached(self, key, fn):
        if key not in self._seen:
            self._seen[key] = fn()
        return self._seen[key]

    def _sh(self, i):
        if i not in self._simhash:
            self._simhash[i] = simhash(self.texts[i])
        return self._simhash[i]

    def _pairs_ok(self, rows):
        keys = [(a, b) for a, b, _ in rows]
        return (all(a < b for a, b in keys) and len(set(keys)) == len(keys)
                and self.exact <= set(keys))

    def check_minhash(self, rows) -> bool:
        def run():
            return self._pairs_ok(rows) and all(
                j >= self.threshold
                and abs(jaccard(self.texts[a], self.texts[b]) - j) <= JACCARD_TOLERANCE
                for a, b, j in rows
            )
        return self._cached(("minhash", tuple(map(tuple, rows))), run)

    def check_simhash(self, rows) -> bool:
        def run():
            return self._pairs_ok(rows) and all(
                bin(self._sh(a) ^ self._sh(b)).count("1") == h <= self.max_hamming
                for a, b, h in rows
            )
        return self._cached(("simhash", tuple(map(tuple, rows))), run)
