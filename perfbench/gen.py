"""Seeded input generators for the perfbench workloads.

Two tables, each with a ground-truth sidecar the output checks read:

* transcripts in the ``input_hint`` shape (``conv_id, turn_idx, role,
  text, tool, ts``) for ``kg_build`` and ``kg_serve``.  About 20% of
  the planted entity mentions are the hub entity ``part_hub``, about
  10% of the conversations are byte-identical re-ingested copies of an
  earlier one (larger conv_id, so ``conv_dedup`` keeps the original),
  and a quarter of the mentions are upper-case variants.
* N3 documents ``(doc_id, n3_text, base_uri)`` for ``n3_docs``, built
  from statement templates whose quad counts are known: ``@prefix``,
  lang and datatype literals, lists, bnode property lists and
  ``{...} => {...}`` rules, with ~2% planted malformed documents.

Everything is drawn from ``random.Random(seed)``: the same seed gives
byte-identical parquet files.  The program under test only ever sees
the parquet; the sidecar stays with the benchmark.
"""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import json
import os
import random
from collections import Counter
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

HUB = "part_hub"
N_PARTS = 5000
N_SUPPS = 200
HUB_P = 0.20
DUP_P = 0.10
UPPER_P = 0.25
MALFORMED_P = 0.02

_FILLER = (
    "the order shipped via truck please check status of and with price "
    "invoice lookup result ok thanks delayed pending confirm route stock "
    "warehouse quote total due net update"
).split()
_ROLES = ("user", "assistant", "tool")
_TS0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
_PART_CUM = list(itertools.accumulate(1.0 / k ** 1.1 for k in range(1, N_PARTS + 1)))


@dataclass
class Conv:
    idx: int
    turns: list          # [(role, text, tool)]
    mentions: list       # [(turn_idx, pos, surface)]
    group: int           # idx of the original this conversation copies

    @property
    def conv_id(self) -> str:
        return conv_id(self.idx)


def conv_id(idx: int) -> str:
    return f"c{idx:08d}"


def _surface(rng: random.Random) -> str:
    r = rng.random()
    if r < HUB_P:
        s = HUB
    elif r < HUB_P + 0.7 * (1 - HUB_P):
        s = f"part_{bisect.bisect_left(_PART_CUM, rng.random() * _PART_CUM[-1]) + 1}"
    else:
        s = f"supp_{rng.randint(1, N_SUPPS)}"
    return s.upper() if rng.random() < UPPER_P else s


def _original(rng: random.Random, seed: int, idx: int) -> Conv:
    turns, mentions = [], []
    for t in range(rng.randint(3, 9)):
        toks = ["turn", str(t)]
        if t == 0:
            toks += ["session", f"s{seed}x{idx}"]
        for _ in range(rng.randint(0, 3)):
            toks += rng.sample(_FILLER, rng.randint(1, 4))
            mentions.append((t, len(toks), _surface(rng)))
            toks.append(mentions[-1][2])
        toks += rng.sample(_FILLER, rng.randint(1, 3))
        if t == 0:
            # an inline N3 snippet: its tokens start with ':' or '.', so
            # they are never mentions
            toks += [f":part_{rng.randint(1, N_PARTS)}", ":suppliedBy",
                     f":supp_{rng.randint(1, N_SUPPS)}", "."]
        role = _ROLES[t % 3]
        turns.append((role, " ".join(toks), "lookup" if role == "tool" else ""))
    return Conv(idx, turns, mentions, idx)


def corpus(seed: int, n_convs: int) -> list:
    """``n_convs`` conversations; ~10% copy an earlier original."""
    rng = random.Random(seed)
    convs: list = []
    for idx in range(n_convs):
        if idx >= 8 and rng.random() < DUP_P:
            src = convs[rng.randint(max(0, idx - 64), idx - 1)]
            convs.append(Conv(idx, src.turns, src.mentions, src.group))
        else:
            convs.append(_original(rng, seed, idx))
    return convs


def transcripts_table(convs: list) -> pa.Table:
    cols: dict = {k: [] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
    for c in convs:
        for t, (role, text, tool) in enumerate(c.turns):
            cols["conv_id"].append(c.conv_id)
            cols["turn_idx"].append(t)
            cols["role"].append(role)
            cols["text"].append(text)
            cols["tool"].append(tool)
            cols["ts"].append(_TS0 + dt.timedelta(minutes=c.idx, seconds=t))
    return pa.table({
        "conv_id": pa.array(cols["conv_id"], pa.string()),
        "turn_idx": pa.array(cols["turn_idx"], pa.int32()),
        "role": pa.array(cols["role"], pa.string()),
        "text": pa.array(cols["text"], pa.string()),
        "tool": pa.array(cols["tool"], pa.string()),
        "ts": pa.array(cols["ts"], pa.timestamp("us", tz="UTC")),
    })


def kept(convs: list) -> list:
    """What ``conv_dedup`` keeps of one batch: the smallest conv_id of
    every group of byte-identical conversations."""
    first: dict = {}
    for c in convs:
        if c.group not in first or c.idx < first[c.group].idx:
            first[c.group] = c
    return sorted(first.values(), key=lambda c: c.idx)


def mention_keys(convs: list) -> set:
    """{(conv_id, turn_idx, pos, norm)} of the kept conversations."""
    return {(c.conv_id, t, p, s.lower()) for c in kept(convs) for t, p, s in c.mentions}


def _store_sets(batches: list) -> tuple:
    """(mention keys, (entity, mentionCount) pairs, stored rows) of a
    store built from ``batches``, each committed as its own
    ``--dedup-input`` batch: set semantics hold within a batch only."""
    keys: set = set()
    pairs: set = set()
    rows = 0
    for b in batches:
        mk = mention_keys(b)
        per_ent = Counter(k[3] for k in mk)
        rows += 5 * len(mk) + len(per_ent)
        keys |= mk
        pairs |= set(per_ent.items())
    return keys, pairs, rows


def serve_truth(live: list, prev: list) -> dict:
    """Ground truth for the kg_serve readers over the ``live`` store and
    its diff against the ``prev`` store (both lists of batches)."""
    keys, pairs, rows = _store_sets(live)
    pkeys, ppairs, _ = _store_sets(prev)
    per_ent = Counter(k[3] for k in keys)
    n_counts = Counter(e for e, _ in pairs)
    rare = min(per_ent, key=lambda e: (per_ent[e], e))
    return {
        "store_rows": rows,
        "hub_mentions": per_ent[HUB],
        "rare_entity": rare,
        "rare_mentions": per_ent[rare],
        "turn0_mentions": sum(1 for k in keys if k[1] == 0),
        "mention_count_join": sum(n * n_counts[e] for e, n in per_ent.items()),
        "entity_conv_pairs": len({(k[3], k[0]) for k in keys}),
        "diff_added": 5 * len(keys - pkeys) + len(pairs - ppairs),
        "diff_removed": 5 * len(pkeys - keys) + len(ppairs - pairs),
    }


def build_truth(convs: list) -> dict:
    """Sidecar of one ``kg_build`` input table."""
    k = kept(convs)
    mk = mention_keys(convs)
    per_ent = Counter(key[3] for key in mk)
    n_mentions = sum(len(c.mentions) for c in convs)
    hub = sum(1 for c in convs for _, _, s in c.mentions if s.lower() == HUB)
    return {
        "turns": sum(len(c.turns) for c in convs),
        "convs": len(convs),
        "kept_convs": len(k),
        "duplicated_conv_ids": [c.conv_id for c in convs if c.group != c.idx],
        "planted_mentions": n_mentions,
        "kept_mentions": len(mk),
        "distinct_entities": len(per_ent),
        "hub_share": hub / max(1, n_mentions),
        "mentions_per_entity": dict(sorted(per_ent.items())),
        "store_triples": 5 * len(mk) + len(per_ent),
    }


# --- N3 documents --------------------------------------------------------

_XSD = "<http://www.w3.org/2001/XMLSchema#>"


def _statement(rng: random.Random, i: int) -> tuple:
    """One N3 statement and the number of quads the parser emits for it."""
    kind = rng.randrange(6)
    if kind == 0:
        return f":s{i} :p{rng.randrange(20)} :o{rng.randrange(500)} .", 1
    if kind == 1:
        lang = rng.choice(("en", "de", "fr"))
        return f':s{i} :label "name {rng.randrange(10_000)}"@{lang} .', 1
    if kind == 2:
        return f':s{i} :value "{rng.randrange(-999, 999)}"^^xsd:integer .', 1
    if kind == 3:
        n = rng.randint(1, 4)
        items = " ".join(f":i{rng.randrange(50)}" for _ in range(n))
        return f":s{i} :items ( {items} ) .", 2 * n + 1
    if kind == 4:
        n = rng.randint(1, 3)
        props = " ; ".join(f':q{j} "v{rng.randrange(100)}"' for j in range(n))
        return f"[ {props} ] :about :s{i} .", n + 1
    j = rng.randrange(20)
    return f"{{ ?x :p{j} ?y }} => {{ ?y :q{j} ?x }} .", 3


def n3_corpus(seed: int, n_docs: int) -> tuple:
    """(pa.Table of documents, sidecar dict)."""
    rng = random.Random(seed)
    ids, texts, bases = [], [], []
    quads: dict = {}
    malformed = []
    for d in range(n_docs):
        doc_id = f"d{d:07d}"
        lines = [f"@prefix : <http://example.org/d{d}/> .",
                 f"@prefix xsd: {_XSD} ."]
        n = 0
        for i in range(rng.randint(2, 8)):
            text, q = _statement(rng, i)
            lines.append(text)
            n += q
        if rng.random() < MALFORMED_P:
            # an unterminated string literal: the whole document fails
            lines.append(f':s0 :broken "unterminated {d} .')
            malformed.append(doc_id)
            n = 0
        ids.append(doc_id)
        texts.append("\n".join(lines) + "\n")
        bases.append(f"http://example.org/base/{d}")
        quads[doc_id] = n
    table = pa.table({"doc_id": ids, "n3_text": texts, "base_uri": bases})
    return table, {"docs": n_docs, "malformed": malformed, "quads": quads,
                   "total_quads": sum(quads.values())}


def write_parquet(table: pa.Table, path: str, files: int = 1) -> None:
    """Write ``table`` as ``files`` parquet part files under ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def write_sidecar(truth: dict, path: str) -> None:
    with open(path, "w") as f:
        json.dump(truth, f, sort_keys=True)
