"""RDF Dataset Canonicalization (RDFC-1.0 / URDNA2015).

Fresh implementation of the W3C RDF Dataset Canonicalization spec
(https://www.w3.org/TR/rdf-canon/). Parity target: the `rdf-canonize`
package the reference delegates to (/root/reference/lib/jsonld.js:603),
including the ``maxWorkFactor`` complexity bound for poison graphs
(reference harness usage: /root/reference/tests/test.js:652-667).

Spark deployment note (SURVEY §2.9): blank-node co-reference never
spans a source document after per-document label salting, so this
kernel runs per-document inside the Arrow stage — embarrassingly
parallel — and a suffix pass re-namespaces ``c14n`` labels per
document. No global shuffle is required for canonical labels.
"""

from __future__ import annotations

import hashlib
from itertools import permutations

from .nquads import serialize_quad
from .tordf import DEFAULT_GRAPH


class _Issuer:
    def __init__(self, prefix: str):
        self.prefix = prefix
        self.counter = 0
        self.existing: dict[str, str] = {}
        self.order: list[str] = []

    def issue(self, old: str) -> str:
        if old in self.existing:
            return self.existing[old]
        new = f"{self.prefix}{self.counter}"
        self.counter += 1
        self.existing[old] = new
        self.order.append(old)
        return new

    def issued(self, old: str) -> bool:
        return old in self.existing

    def clone(self) -> "_Issuer":
        c = _Issuer(self.prefix)
        c.counter = self.counter
        c.existing = dict(self.existing)
        c.order = list(self.order)
        return c


class PoisonedDatasetError(Exception):
    """Raised when canonicalization exceeds the work-factor bound."""


#: digests the reference's rdf-canonize accepts for
#: ``messageDigestAlgorithm`` (/root/reference/lib/jsonld.js:551-559
#: passes the option through verbatim; RDFC-1.0 §2 names SHA-256 as
#: default and SHA-384 as the interoperable alternative).
_DIGESTS = {"sha256": hashlib.sha256, "sha384": hashlib.sha384,
            "sha512": hashlib.sha512}


def _make_digest(algorithm: str):
    try:
        h = _DIGESTS[algorithm.replace("-", "").lower()]
    except KeyError:
        raise ValueError(
            f"unsupported messageDigestAlgorithm: {algorithm!r} "
            f"(supported: {sorted(_DIGESTS)})") from None
    return lambda s: h(s.encode("utf-8")).hexdigest()


def _quad_bnodes(q):
    for pos in ("subject", "object", "graph"):
        t = q[pos]
        if t["termType"] == "BlankNode":
            yield pos, t["value"]


class _Canonicalizer:
    def __init__(self, quads: list[dict], max_work_factor: float | int = 3,
                 message_digest_algorithm: str = "sha256"):
        self.quads = quads
        self._digest = _make_digest(message_digest_algorithm)
        self.bnode_to_quads: dict[str, list[dict]] = {}
        for q in quads:
            for _, b in _quad_bnodes(q):
                self.bnode_to_quads.setdefault(b, []).append(q)
        self.canonical = _Issuer("c14n")
        self.hash_to_bnodes: dict[str, list[str]] = {}
        n = len(self.bnode_to_quads)
        if max_work_factor is None or max_work_factor == float("inf"):
            self.max_deep = float("inf")
        elif max_work_factor == 0:
            self.max_deep = 0
        else:
            self.max_deep = n ** max_work_factor
        self.deep_count = 0

    # -- step 3: hash first degree quads
    def hash_first_degree(self, bnode: str) -> str:
        nquads = []
        for q in self.bnode_to_quads[bnode]:
            modified = {}
            for pos in ("subject", "predicate", "object", "graph"):
                t = q[pos]
                if t["termType"] == "BlankNode":
                    v = "a" if t["value"] == bnode else "z"
                    modified[pos] = {"termType": "BlankNode", "value": v}
                else:
                    modified[pos] = t
            nquads.append(serialize_quad(modified))
        nquads.sort()
        return self._digest("".join(nquads))

    # -- step 4.6-ish: hash related blank node
    def hash_related(self, related: str, quad: dict, issuer: _Issuer, position: str) -> str:
        if self.canonical.issued(related):
            ident = "_:" + self.canonical.existing[related]
        elif issuer.issued(related):
            ident = "_:" + issuer.existing[related]
        else:
            ident = self.first_degree_hashes[related]
        inp = position
        if position != "g":
            inp += f"<{quad['predicate']['value']}>"
        return self._digest(inp + ident)

    # -- hash n-degree quads
    def hash_n_degree(self, bnode: str, issuer: _Issuer) -> tuple[str, _Issuer]:
        self.deep_count += 1
        if self.deep_count > self.max_deep:
            raise PoisonedDatasetError(
                f"Maximum deep iteration count exceeded ({self.max_deep}).")
        hn: dict[str, list[str]] = {}
        for quad in self.bnode_to_quads[bnode]:
            for pos, related in _quad_bnodes(quad):
                if related == bnode:
                    continue
                p = {"subject": "s", "object": "o", "graph": "g"}[pos]
                h = self.hash_related(related, quad, issuer, p)
                hn.setdefault(h, []).append(related)

        data_to_hash = []
        for related_hash in sorted(hn.keys()):
            data_to_hash.append(related_hash)
            chosen_path = ""
            chosen_issuer = None
            for perm in permutations(sorted(hn[related_hash])):
                issuer_copy = issuer.clone()
                path = ""
                recursion_list = []
                skip = False
                for related in perm:
                    if self.canonical.issued(related):
                        path += "_:" + self.canonical.existing[related]
                    else:
                        if not issuer_copy.issued(related):
                            recursion_list.append(related)
                        path += "_:" + issuer_copy.issue(related)
                    if chosen_path and len(path) >= len(chosen_path) and path > chosen_path:
                        skip = True
                        break
                if skip:
                    continue
                for related in recursion_list:
                    result_hash, result_issuer = self.hash_n_degree(related, issuer_copy)
                    path += "_:" + issuer_copy.issue(related)
                    path += f"<{result_hash}>"
                    issuer_copy = result_issuer
                    if chosen_path and len(path) >= len(chosen_path) and path > chosen_path:
                        skip = True
                        break
                if skip:
                    continue
                if not chosen_path or path < chosen_path:
                    chosen_path = path
                    chosen_issuer = issuer_copy
            data_to_hash.append(chosen_path)
            issuer = chosen_issuer
        return self._digest("".join(data_to_hash)), issuer

    def run(self) -> dict[str, str]:
        """Returns mapping old bnode label -> canonical label (no `_:`)."""
        self.first_degree_hashes = {}
        # iterate in DATASET-APPEARANCE order (bnode_to_quads is built
        # in quad order): the n-degree result sort below is stable, so
        # for tie groups (isomorphic components — their n-degree hashes
        # are identical) the issuance order falls back to THIS order.
        # rdf-canonize's blankNodeInfo Map has the same appearance
        # order; a set here made the canonical-id MAP depend on
        # Python's per-process str-hash seed (caught by the
        # RDFC10MapTest-arm check — output N-Quads were unaffected
        # because tied nodes are automorphic).
        non_normalized = list(self.bnode_to_quads.keys())
        # simple-hash pass (the spec loops; single pass is equivalent for
        # the issue-unique-then-recurse structure below)
        for b in non_normalized:
            self.first_degree_hashes[b] = self.hash_first_degree(b)
        for b, h in self.first_degree_hashes.items():
            self.hash_to_bnodes.setdefault(h, []).append(b)

        for h in sorted(self.hash_to_bnodes.keys()):
            bnodes = self.hash_to_bnodes[h]
            if len(bnodes) == 1:
                self.canonical.issue(bnodes[0])
        # recompute grouping for remaining (hashes unchanged; spec re-runs
        # first-degree hashing after each issuance, but first-degree hashes
        # don't depend on issued ids, so grouping is stable)
        for h in sorted(self.hash_to_bnodes.keys()):
            bnodes = [b for b in self.hash_to_bnodes[h] if not self.canonical.issued(b)]
            if not bnodes:
                continue
            results = []
            for b in bnodes:
                temp = _Issuer("b")
                temp.issue(b)
                nh, nissuer = self.hash_n_degree(b, temp)
                results.append((nh, nissuer))
            for _, nissuer in sorted(results, key=lambda r: r[0]):
                for old in nissuer.order:
                    self.canonical.issue(old)
        return dict(self.canonical.existing)


def canonical_id_map(quads: list[dict], max_work_factor: float | int = 3,
                     message_digest_algorithm: str = "sha256") -> dict[str, str]:
    """old blank-node label -> canonical label (`c14nN`, no `_:`).

    A dataset without blank nodes issues no labels, so it returns ``{}``
    without hashing anything; the digest is still resolved first, so an
    unknown algorithm raises on every input."""
    _make_digest(message_digest_algorithm)
    if not any(True for q in quads for _ in _quad_bnodes(q)):
        return {}
    return _Canonicalizer(quads, max_work_factor,
                          message_digest_algorithm).run()


def relabel_quads(quads: list[dict], id_map: dict[str, str]) -> list[dict]:
    out = []
    for q in quads:
        nq = {}
        for pos in ("subject", "predicate", "object", "graph"):
            t = q[pos]
            if t["termType"] == "BlankNode" and t["value"] in id_map:
                nq[pos] = {"termType": "BlankNode", "value": id_map[t["value"]]}
            else:
                nq[pos] = t
        out.append(nq)
    return out


def canonize(quads: list[dict], *, max_work_factor: float | int = 3,
             message_digest_algorithm: str = "sha256") -> str:
    """Dataset -> canonical N-Quads string (RDFC-1.0)."""
    id_map = canonical_id_map(quads, max_work_factor,
                              message_digest_algorithm)
    lines = sorted(serialize_quad(q) for q in relabel_quads(quads, id_map))
    return "".join(lines)


__all__ = ["canonize", "canonical_id_map", "relabel_quads",
           "PoisonedDatasetError", "DEFAULT_GRAPH"]
