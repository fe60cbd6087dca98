"""Seeded transcript generator for the benchmark workloads.

Every conversation is a short run of turns over a planted vocabulary:

- claim turns follow the claim grammar ``USER_u saw EVT_e on ITEM_i``
  (``operators.claims.CLAIM_SUBJECT_RE``), so the claims layer has rows;
- mention turns name an agent and a city (``AGENT_a met CITY_c``);
- filler turns carry no uppercase token, so no mention.

All planted names match the extraction mention rule (an uppercase token of
at least three characters).  ``vocab`` is the total number of distinct
names, split evenly over the five kinds USER, EVT, ITEM, AGENT and CITY.
Tool turns name one of a few tools, so the agent-trace views have rows.

The generator is plain Python over ``random.Random(seed)`` and writes
parquet through pyarrow, so the same seed gives byte-identical inputs and
input generation starts no Spark job.
"""

from __future__ import annotations

import os
import random
import re
import string
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

KINDS = ("USER", "EVT", "ITEM", "AGENT", "CITY")
ROLES = ("system", "user", "assistant", "tool")
TOOLS = ("search", "lookup", "fetch")
FILLER = ("ok thanks", "let me check that", "done here", "sounds good to me")
BASE_TS_US = 1_700_000_000 * 1_000_000

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def _letters(i: int) -> str:
    """0 → A, 25 → Z, 26 → BA: event names must be letters only."""
    out = ""
    while True:
        out = string.ascii_uppercase[i % 26] + out
        i //= 26
        if i == 0:
            return out


def vocabulary(vocab: int) -> dict[str, list[str]]:
    per_kind = max(1, vocab // len(KINDS))
    names = {}
    for kind in KINDS:
        if kind == "EVT":
            names[kind] = [f"EVT_{_letters(i)}" for i in range(per_kind)]
        else:
            names[kind] = [f"{kind}_{i}" for i in range(per_kind)]
    return names


@dataclass
class Transcripts:
    """Generated turns, column-wise, in (conv_id, turn_idx) order."""

    columns: dict[str, list] = field(
        default_factory=lambda: {name: [] for name in SCHEMA.names}
    )

    def __len__(self) -> int:
        return len(self.columns["conv_id"])

    def conv_ids(self) -> list[str]:
        return list(dict.fromkeys(self.columns["conv_id"]))

    def table(self) -> pa.Table:
        return pa.table(self.columns, schema=SCHEMA)

    def extend(self, other: "Transcripts") -> None:
        for name, values in self.columns.items():
            values.extend(other.columns[name])

    def without(self, conv_ids: set[str]) -> "Transcripts":
        out = Transcripts()
        keep = [c not in conv_ids for c in self.columns["conv_id"]]
        for name, values in self.columns.items():
            out.columns[name] = [v for v, k in zip(values, keep) if k]
        return out


def generate(
    seed: int,
    n_convs: int,
    turns: int,
    vocab: int,
    conv_offset: int = 0,
) -> Transcripts:
    """``n_convs`` conversations of ``turns`` turns each; conversation ids
    start at ``conv_offset`` so separately generated batches never share
    one.  Every conversation has at least one claim turn (turn 1)."""
    rng = random.Random(f"{seed}:{conv_offset}")
    names = vocabulary(vocab)
    out = Transcripts()
    cols = out.columns
    for c in range(conv_offset, conv_offset + n_convs):
        ts = BASE_TS_US + c * 86_400_000_000
        for t in range(turns):
            role = ROLES[t % len(ROLES)]
            kind = rng.random()
            if t == 1 or kind < 0.4:
                text = (
                    f"{rng.choice(names['USER'])} saw {rng.choice(names['EVT'])}"
                    f" on {rng.choice(names['ITEM'])}"
                )
            elif kind < 0.8:
                text = f"{rng.choice(names['AGENT'])} met {rng.choice(names['CITY'])}"
            else:
                text = rng.choice(FILLER)
            ts += rng.randint(1, 120) * 1_000_000
            cols["conv_id"].append(f"c{c:07d}")
            cols["turn_idx"].append(t)
            cols["role"].append(role)
            cols["text"].append(text)
            cols["tool"].append(rng.choice(TOOLS) if role == "tool" else "")
            cols["ts"].append(ts)
    return out


def write(transcripts: Transcripts, path: str, name: str = "part-00000") -> str:
    os.makedirs(path, exist_ok=True)
    out = os.path.join(path, f"{name}.parquet")
    pq.write_table(transcripts.table(), out)
    return out


# ---------------------------------------------------------------------------
# Expected outputs, computed from the generated turns alone
# ---------------------------------------------------------------------------

MENTION_RE = re.compile(r"\b[A-Z][A-Z0-9_]{2,}\b")
CLAIM_RE = re.compile(r"(USER_[0-9]+) saw (EVT_[A-Z]+) on (ITEM_[0-9]+)")


def conversation_mentions(transcripts: Transcripts) -> dict[str, list[str]]:
    """conv_id → distinct mentions in first-appearance order over the
    conversation's turns (the order a single chunk per conversation sees)."""
    turns: dict[str, list[tuple[int, str]]] = {}
    for conv, idx, text in zip(
        transcripts.columns["conv_id"],
        transcripts.columns["turn_idx"],
        transcripts.columns["text"],
    ):
        turns.setdefault(conv, []).append((idx, text))
    out = {}
    for conv, items in turns.items():
        seen: dict[str, None] = {}
        for _, text in sorted(items):
            for m in MENTION_RE.findall(text):
                seen.setdefault(m)
        out[conv] = list(seen)
    return out


def expected_claims(transcripts: Transcripts) -> dict[str, dict]:
    """subject → {object_id, claim_type, n_claims, doc_ids}: the merged
    claim covariates (one row per subject, fields at the smallest
    (conv_id, turn_idx) ordinal)."""
    rows = []
    for conv, idx, text in zip(
        transcripts.columns["conv_id"],
        transcripts.columns["turn_idx"],
        transcripts.columns["text"],
    ):
        m = CLAIM_RE.search(text)
        if m:
            rows.append((conv, idx, m.group(1), m.group(2), m.group(3)))
    out: dict[str, dict] = {}
    for conv, idx, subj, typ, obj in sorted(rows):
        c = out.setdefault(
            subj, {"object_id": obj, "claim_type": typ, "n_claims": 0, "docs": set()}
        )
        c["n_claims"] += 1
        c["docs"].add(conv)
    return {
        s: {
            "object_id": c["object_id"],
            "claim_type": c["claim_type"],
            "n_claims": c["n_claims"],
            "doc_ids": ",".join(sorted(c["docs"])),
        }
        for s, c in out.items()
    }
