"""Behavioral-parity helpers replicating JVM container semantics.

The reference engine (paramitamirza/EventRelationExtractor) iterates
``java.util.HashMap`` key sets in several tie-breaking hot spots:

* dependency-path DFS picks the *first* path found while iterating a token's
  dependent map (``src/model/feature/PairFeatureVector.java:615-637``),
* the timex-timex rule loop iterates ``doc.getEntities().keySet().toArray()``
  (``src/relpro/TempRelPro.java:64``),
* the causal signal search iterates the signal map in HashMap order
  (``src/model/feature/PairFeatureVector.java:1406``).

Java's HashMap order for String keys is deterministic (String.hashCode is
specified), so the reference is reproducible run-to-run; to hit the P/R>=0.95
parity bar we replicate that order for small maps instead of inventing our
own tie-break. Java 8+ preserves within-bucket insertion order on resize, so
computing buckets at the *final* capacity with insertion-ordered chaining
reproduces the iteration order exactly (tree-ified buckets with >=8 collisions
are not emulated; they do not occur for the key shapes used here).
"""

from __future__ import annotations


def java_string_hash(s: str) -> int:
    """Replicates java.lang.String#hashCode (32-bit overflow semantics)."""
    h = 0
    for ch in s:
        h = (31 * h + ord(ch)) & 0xFFFFFFFF
    return h


def _spread(h: int) -> int:
    """java.util.HashMap#hash: h ^ (h >>> 16) on the 32-bit value."""
    return (h ^ (h >> 16)) & 0xFFFFFFFF


def hashmap_capacity(n: int) -> int:
    """Capacity a default-constructed HashMap ends up with after n puts."""
    cap = 16
    while n > (cap * 3) // 4:
        cap <<= 1
    return cap


_HASH_CACHE: dict = {}


def java_hashmap_order(keys_in_insertion_order) -> list:
    """Iteration order of a default HashMap<String,?> built by inserting
    ``keys_in_insertion_order`` (unique keys) one by one: bucket order,
    insertion order within a bucket (a stable sort on the bucket index).
    Key hashes are memoized (a bounded str -> int dict, which the
    collector never scans)."""
    keys = list(keys_in_insertion_order)
    mask = hashmap_capacity(len(keys)) - 1
    hashes = _HASH_CACHE

    def bucket(k):
        h = hashes.get(k)
        if h is None:
            h = _spread(java_string_hash(k))
            if len(hashes) < 100_000:
                hashes[k] = h
        return h & mask

    keys.sort(key=bucket)
    return keys


_ORDER_CACHE: dict = {}


def dependency_order(dep_order: tuple) -> tuple:
    """``java_hashmap_order`` of a token's dependent map (its insertion
    order ``dep_order``), memoized per process: the path and verb walks
    ask for the same small token-id tuples across every document. Only
    these are cached - per-page keys (entity ids, candidate pairs) never
    repeat - and as tuples of strings, which the collector untracks."""
    out = _ORDER_CACHE.get(dep_order)
    if out is None:
        out = tuple(java_hashmap_order(dep_order))
        if len(_ORDER_CACHE) < 100_000:
            _ORDER_CACHE[dep_order] = out
    return out
