"""Correctness gates of the benchmark.

Pipeline workloads: the analyst table is checked against ground truth the
generator knows, computed here in plain Python without Spark:

- one row per generated entity;
- columns exactly ``entity_seq`` + ``OUTPUT_COLUMNS`` + ``REM2_STATE``;
- ``REM2_STATE`` only takes filled / empty_unique / conflict;
- every row's ``REM2`` and ``REM2_STATE`` equal a replay of the reference
  semantics: the three variant keys of each Latin alias probed in priority
  order against the PDF mapping (first PDF entry wins per key), then the
  two sequential duplicate-name neighbor-fill passes;
- an order-insensitive content hash of the whole table equals the one
  pinned in ``pins.json`` for that workload, seed and size, when pinned.

Operator mix: each query's result is compared with its DuckDB oracle over
the same generated tables (row count, column names, dtype-strict values,
the repo's ``tools/check_oracle.compare``); a query without an oracle must
return the same rows on every pass.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import unicodedata

STATES = {"filled", "empty_unique", "conflict"}
_WS = re.compile(r"[ \t\n\x0b\f\r]+")
_PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


# --- reference replay -----------------------------------------------------

def _norm_ws(s: str) -> str:
    return _WS.sub(" ", s).strip(" ")


def _initcap(s: str) -> str:
    return " ".join(w[:1].upper() + w[1:].lower() for w in s.split(" "))


def _fold(s: str) -> str:
    """Accent fold of Latin-1 Supplement / Latin Extended-A letters
    (NFKD, combining marks dropped); other characters are kept."""
    out = []
    for c in s:
        if 0xC0 <= ord(c) < 0x180:
            base = "".join(x for x in unicodedata.normalize("NFKD", c)
                           if not unicodedata.combining(x))
            c = base if len(base) == 1 else c
        out.append(c)
    return "".join(out)


def is_latin(name: str) -> bool:
    """Latin letters, digits and `` .,'-()`` only, after folding the
    Cyrillic confusables the pipeline folds."""
    folded = _norm_ws(name.translate(str.maketrans("ІіЁё", "IiEe")))
    return bool(folded) and all(
        c in "0123456789 .,'-()"
        or (c.isalpha() and unicodedata.name(c, "").startswith("LATIN"))
        for c in folded)


def variant_keys(name: str) -> list[str]:
    """keep-accents, no-punctuation, no-accents (all lower-cased)."""
    no_punct = "".join(c if c.isalpha() or c.isdigit() or c in " \t\n\x0b\f\r"
                       else " " for c in name)
    return [_norm_ws(name).lower(), _norm_ws(no_punct).lower(),
            _norm_ws(_fold(name)).lower()]


def _ref_fill(names: list[str], cands: list[str]) -> list[str]:
    """The reference's two sequential duplicate-name passes: pass 2 fills
    a duplicate when the nearest non-empty candidates before (including
    earlier fills) and after agree; pass 3 repeats over the output cells."""
    n = len(names)
    occ: dict[str, int] = {}
    for x in names:
        occ[x] = occ.get(x, 0) + 1
    cands = list(cands)
    # nearest non-empty ORIGINAL candidate after each row
    after, cur = [""] * n, ""
    for i in range(n - 1, -1, -1):
        after[i] = cur
        cur = cands[i] or cur
    cells = [""] * n
    before = ""
    for i in range(n):
        if names[i] == "UNKNOWN":
            cells[i] = ""
        elif occ[names[i]] == 1:
            cells[i] = cands[i]
        elif before and before == after[i]:
            cells[i] = cands[i] = before
        before = cands[i] or before
    after, cur = [""] * n, ""
    for i in range(n - 1, -1, -1):
        after[i] = cur
        cur = cells[i] or cur
    before = ""
    for i in range(n):
        if (names[i] != "UNKNOWN" and not cells[i] and occ[names[i]] > 1
                and before and before == after[i]):
            cells[i] = before
        before = cells[i] or before
    return cells


def expected_rem2(gen) -> list[tuple[str, str]]:
    """(REM2, REM2_STATE) per entity, in feed order. Without a PDF the
    pipeline skips matching: every row is empty_unique."""
    if gen.pdf_path is None:
        return [("", "empty_unique")] * len(gen.entities)
    mapping: dict[str, str] = {}
    for e in gen.pdf_entries:
        name = _norm_ws(e.name)
        if not is_latin(name):
            continue
        prog = e.programme_line.split("|")[-1].strip(" ")
        rem2 = "; ".join(p for p in (
            "Number: " + " / ".join(e.numbers) if e.numbers else "",
            "Programme: " + prog if prog else "") if p)
        for key in variant_keys(name):
            if key and key not in mapping:
                mapping[key] = rem2
    names, cands = [], []
    for ent in gen.entities:
        latins = [_initcap(_norm_ws(a.whole_name)) for a in ent.aliases if a.latin]
        names.append(latins[0] if latins else "UNKNOWN")
        hit = next((mapping[k] for c in latins for k in variant_keys(c)
                    if k in mapping), "")
        cands.append(hit)
    occ: dict[str, int] = {}
    for x in names:
        occ[x] = occ.get(x, 0) + 1
    out = []
    for name, cell in zip(names, _ref_fill(names, cands)):
        state = ("filled" if cell else "empty_unique"
                 if name == "UNKNOWN" or occ[name] == 1 else "conflict")
        out.append((cell, state))
    return out


# --- content hash and pins ------------------------------------------------

def content_hash(columns: dict[str, list], skip: tuple[str, ...] = ()) -> str:
    """Order-insensitive hash of a column dict: sorted row reprs."""
    names = sorted(c for c in columns if c not in skip)
    rows = sorted(repr(tuple(columns[c][i] for c in names))
                  for i in range(len(columns[names[0]]) if names else 0))
    h = hashlib.sha256(repr(names).encode())
    for r in rows:
        h.update(r.encode())
    return h.hexdigest()[:16]


def pinned(workload: str, seed: int, size) -> str | None:
    try:
        with open(_PINS) as fh:
            return json.load(fh).get(f"{workload}/{seed}/{size}")
    except FileNotFoundError:
        return None


# --- gates ----------------------------------------------------------------

def check_pipeline(table: dict[str, list], expected: list[tuple[str, str]],
                   output_columns: list[str], pin: str | None) -> tuple[list[str], str]:
    """Problems found in one analyst table (empty = correct) and its hash.
    ``table`` maps column name to values, in the table's column order."""
    problems = []
    want_cols = ["entity_seq", *output_columns, "REM2_STATE"]
    if list(table) != want_cols:
        problems.append(f"columns {list(table)} != {want_cols}")
        return problems, ""
    n = len(table["entity_seq"])
    if n != len(expected):
        problems.append(f"rows {n} != entities {len(expected)}")
        return problems, ""
    bad_states = set(table["REM2_STATE"]) - STATES
    if bad_states:
        problems.append(f"REM2_STATE values {sorted(bad_states)}")
    order = sorted(range(n), key=table["entity_seq"].__getitem__)
    wrong = [i for k, i in enumerate(order)
             if (table["REM2"][i], table["REM2_STATE"][i]) != expected[k]]
    if wrong:
        k = order.index(wrong[0])
        problems.append(
            f"{len(wrong)} rows differ from the reference replay; first: "
            f"entity {k} got {(table['REM2'][wrong[0]], table['REM2_STATE'][wrong[0]])}"
            f" want {expected[k]}")
    digest = content_hash(table, skip=("entity_seq",))
    if pin and digest != pin:
        problems.append(f"content hash {digest} != pinned {pin}")
    return problems, digest


def load_compare():
    """The repo's dtype-strict Spark-vs-DuckDB comparator."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(os.getcwd(), "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare, mod.duck_con
