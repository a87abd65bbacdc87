"""Seeded taxonomy federation for the kg_entail workload, and a
pure-Python saturation of it that the engine's edges are checked
against.

The shape follows the incremental-entailment bench: lineage chains of
``rdfs:subClassOf`` edges rooted under a shared genus layer, an anatomy
module whose classes form ``part_of`` restriction chains, a
``located_in`` restriction from every lineage foot into the anatomy,
and the chain axiom ``located_in o part_of -> located_in``. The graft
adds a new lineage chain that attaches to an old genus and an old
anatomy target (the add-an-ontology shape ``entail_delta`` is built
for).

The base is the same for every seed; the seed picks the graft: the
genus its chain hangs from and the anatomy target of its foot. Generation is pure Python, so the same seed gives byte-identical
rows on any host.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass

SUB = "rdfs:subClassOf"
TYPE = "rdf:type"
CLASS = "owl:Class"
PART = "RO:part"
LOC = "RO:loc"
OVERLAPS = "RO:overlaps"

SCHEMA = [
    (PART, TYPE, "owl:TransitiveProperty"),
    (PART, "rdfs:subPropertyOf", OVERLAPS),
    (LOC, TYPE, "owl:TransitiveProperty"),
    (LOC, "owl:propertyChainAxiom", "_:cl1"),
    ("_:cl1", "rdf:first", LOC),
    ("_:cl1", "rdf:rest", "_:cl2"),
    ("_:cl2", "rdf:first", PART),
    ("_:cl2", "rdf:rest", "rdf:nil"),
]

N_CHAINS = 48     # base lineage chains
CHAIN_LEN = 8     # subclass edges per chain
N_GENERA = 12     # shared genus layer the chains hang from
N_ANAT = 240      # anatomy classes
ANAT_CHAIN = 10   # anatomy part_of chain length
# anatomy targets sit mid-chain so the part_of chain above them and the
# located_in o part_of chain axiom both fire
TARGETS = [a for a in range(N_ANAT) if a % ANAT_CHAIN == 7]


@dataclass
class Federation:
    base: list[tuple[str, str, str]]
    base_classes: list[str]
    graft: list[tuple[str, str, str]]
    graft_classes: list[str]

    def digest(self) -> str:
        """sha256 over every generated row, in generation order."""
        h = hashlib.sha256()
        for part in (self.base, self.graft):
            for row in part:
                h.update("\t".join(row).encode() + b"\n")
            h.update(b"--\n")
        for part in (self.base_classes, self.graft_classes):
            h.update("\n".join(part).encode() + b"\n--\n")
        return h.hexdigest()


def _tx(i: int) -> str:
    return f"TX:{i:08d}"


def _an(i: int) -> str:
    return f"AN:{i:06d}"


def _ge(i: int) -> str:
    return f"GE:{i:04d}"


def _chains(rng: random.Random, chain0: int, n: int):
    """Rows and class ids of lineage chains [chain0, chain0 + n)."""
    rows: list[tuple[str, str, str]] = []
    classes: list[str] = []
    for chain in range(chain0, chain0 + n):
        genus = _ge(rng.randrange(N_GENERA))
        first = chain * CHAIN_LEN
        for i in range(first, first + CHAIN_LEN):
            parent = _tx(i - 1) if i != first else genus
            rows.append((_tx(i), SUB, parent))
            rows.append((_tx(i), TYPE, CLASS))
            classes.append(_tx(i))
        foot = first + CHAIN_LEN - 1
        bn = f"_:li{foot}"
        rows.append((_tx(foot), SUB, bn))
        rows.append((bn, "owl:onProperty", LOC))
        rows.append((bn, "owl:someValuesFrom", _an(rng.choice(TARGETS))))
    return rows, classes


def generate(seed: int) -> Federation:
    base, base_classes = _chains(random.Random("kg_entail/base"), 0, N_CHAINS)
    for g in range(N_GENERA):
        base.append((_ge(g), TYPE, CLASS))
        base_classes.append(_ge(g))
    for a in range(N_ANAT):
        base.append((_an(a), TYPE, CLASS))
        base_classes.append(_an(a))
        if a % ANAT_CHAIN:
            bn = f"_:pr{a}"
            base.append((_an(a), SUB, bn))
            base.append((bn, "owl:onProperty", PART))
            base.append((bn, "owl:someValuesFrom", _an(a - 1)))
    base.extend(SCHEMA)
    graft, graft_classes = _chains(random.Random(f"kg_entail/graft/{seed}"), N_CHAINS, 1)
    return Federation(base, base_classes, graft, graft_classes)


def reference_edges(rows, classes) -> set[tuple[str, str, str]]:
    """The EL saturation of a federation, written for its shape alone:
    reflexive-transitive subclass edges between named classes, plus
    ``(A, P, C)`` for every entailed ``A subClassOf P some C``, closed
    under subclass on either side, the transitivity of part and
    located_in, part subPropertyOf overlaps and the located_in o part
    chain. Independent of the engine's closure code."""
    named = set(classes)
    some = {}  # restriction node -> (property, filler)
    for s, p, o in rows:
        if p == "owl:onProperty":
            some.setdefault(s, [None, None])[0] = o
        elif p == "owl:someValuesFrom":
            some.setdefault(s, [None, None])[1] = o
    told = {c: set() for c in named}
    exist = set()
    for s, p, o in rows:
        if p != SUB or s not in named:
            continue
        if o in named:
            told[s].add(o)
        elif o in some:
            exist.add((s, *some[o]))
    sup = {}
    for c in named:
        seen, todo = {c}, [c]
        while todo:
            for d in told[todo.pop()]:
                if d not in seen:
                    seen.add(d)
                    todo.append(d)
        sup[c] = seen
    sub_of = {c: {a for a in named if c in sup[a]} for c in named}
    while True:
        new = set(exist)
        for a, p, c in exist:
            new.update((x, p, c) for x in sub_of[a])
            new.update((a, p, d) for d in sup[c])
            if p == PART:
                new.add((a, OVERLAPS, c))
        by_src: dict[tuple[str, str], set[str]] = {}
        for a, p, c in new:
            by_src.setdefault((a, p), set()).add(c)
        for a, p, c in list(new):
            if p in (PART, LOC):
                new.update((a, p, d) for d in by_src.get((c, p), ()))
            if p == LOC:
                new.update((a, LOC, d) for d in by_src.get((c, PART), ()))
        if new == exist:
            break
        exist = new
    return {(a, SUB, b) for a in named for b in sup[a]} | exist

