"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of the seed: the ontology inputs
come from the package's own fixture generators (``fixtures``) and are
written to the file formats the reference pipeline reads (JSONL,
one workbook per sheet config, a JSON property-type snapshot); the
document corpus and micro-batches come from a seeded ``random.Random``
in the shape of the ``documents`` test-data table (uniform bags of a
30-word vocabulary, 10-99 words, five languages, twenty sources).
"""

from __future__ import annotations

import json
import os
import random

from ontology_graph_etl_spark import fixtures
from ontology_graph_etl_spark.sources.tabular import WORKSHEET_METADATA
from ontology_graph_etl_spark.sources.xlsx import write_xlsx

#: concept records per ontology run (before the fixture's ~2% duplicates)
CONCEPTS = 2000
#: data rows per relationship sheet (4x on the TREATS sheets)
ROWS_PER_SHEET = 40
#: sheet configs written as workbooks: sheet 3 on the default column
#: ordinals, sheet 4 (TREATS, 4x rows) on shifted ones; they share the
#: NeoplasmType ids, so first-wins runs across sheets. Each further sheet
#: adds a prefix scan and its jobs (about 3.5 s a sheet on 4 cores).
SHEETS = (3, 4)
#: the fixture hierarchy's 2-node cycle; both ids are added as concepts so
#: the cycle survives endpoint validation and reaches the graph analytics
CYCLE_IDS = (900001, 900002)

#: documents that seed the ingest stores, and documents per micro-batch
CORPUS_DOCS = 1000
BATCH_DOCS = 100
#: per batch: exact copies of stored corpus docs (must screen as near-dups)
CORPUS_COPIES = 10
#: per batch: exact copies of docs the previous batch accepted (must
#: screen as near-dups once the fold-back merged them)
RESENT_COPIES = 5

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row "
    "the agg key query a scan batch"
).split()
LANGS = ["en"] * 41 + ["zh"] * 15 + ["de"] * 14 + ["fr"] * 15 + ["es"] * 15


def _write_jsonl(path: str, rows) -> int:
    n = 0
    with open(path, "w", encoding="utf-8") as f:
        for row in rows:
            f.write(json.dumps(row, ensure_ascii=False) + "\n")
            n += 1
    return n


def _sheet_layout(cfg, data_rows) -> list[list]:
    """Lay fixture rows out on the config's column ordinals, behind a
    header row, then a stop row (empty node1 value) and two rows after
    it that the prefix scan must drop."""
    ords = {
        "node1_value": cfg.column_node1_value,
        "node1_id": cfg.column_node1_id,
        "node2_value": cfg.column_node2_value,
        "node2_id": cfg.column_node2_id,
    }
    width = max(ords.values()) + 1

    def line(vals: dict) -> list:
        out = [None] * width
        for k, v in vals.items():
            out[ords[k]] = v
        return out

    rows = [line({k: k for k in ords})]
    rows += [line({k: r[k] for k in ords}) for r in data_rows]
    rows.append(line({"node1_id": "STOP", "node2_id": "STOP"}))
    rows += [
        line({
            "node1_value": f"after stop {i}",
            "node1_id": f"AFTER{i}",
            "node2_value": f"after stop value {i}",
            "node2_id": f"AFTER{i}",
        })
        for i in range(2)
    ]
    return rows


def write_ontology_inputs(spark, out_dir: str, seed: int) -> dict:
    """Write the reference-shaped ontology inputs for ``seed`` under
    ``out_dir`` and return their paths plus the generated sheet rows
    (the reference side of the correctness gate reads the files, the
    sheet rows are kept because the workbook format is the engine's
    own reader's business)."""
    os.makedirs(out_dir, exist_ok=True)
    concept_df = fixtures.concepts(spark, CONCEPTS, seed=seed)
    concepts = sorted(
        (r.asDict() for r in concept_df.collect()), key=lambda r: r["line_no"]
    )
    next_line = concepts[-1]["line_no"] + 1
    for k, cid in enumerate(CYCLE_IDS):
        concepts.append({
            "line_no": next_line + k, "id": cid, "name": f"cycle member {k}",
            "semantic_type": "Finding", "cui": None, "search_type": "",
            "description": None, "property_concept": None,
        })
    hierarchy = sorted(
        (r.asDict() for r in fixtures.concept_hierarchy(
            spark, concept_df, seed=seed).collect()),
        key=lambda r: r["line_no"],
    )
    mapping = [
        r.asDict()
        for r in fixtures.concept_id_mapping(spark, concept_df, seed=seed)
        .collect()
    ]
    snapshot: dict[int, list[str]] = {}
    for r in fixtures.property_type_events(
        spark, concept_df, seed=seed
    ).collect():
        snapshot.setdefault(r.id, []).append(r.raw_type)
    rel_rows = [
        r.asDict()
        for r in fixtures.relationship_rows(
            spark, ROWS_PER_SHEET, seed=seed
        ).collect()
    ]

    paths = {
        "concepts": os.path.join(out_dir, "concepts.jsonl"),
        "hierarchy": os.path.join(out_dir, "hierarchy.jsonl"),
        "mapping": os.path.join(out_dir, "mapping.jsonl"),
        "snapshot": os.path.join(out_dir, "property_types.json"),
        "sheets": os.path.join(out_dir, "sheets"),
    }
    n_rows = _write_jsonl(paths["concepts"], concepts)
    n_rows += _write_jsonl(paths["hierarchy"], hierarchy)
    n_rows += _write_jsonl(paths["mapping"], mapping)
    with open(paths["snapshot"], "w", encoding="utf-8") as f:
        json.dump({str(k): v for k, v in snapshot.items()}, f)
    n_rows += len(snapshot)
    os.makedirs(paths["sheets"], exist_ok=True)
    sheets = {}
    for idx in SHEETS:
        cfg = WORKSHEET_METADATA[idx]
        data = sorted(
            (r for r in rel_rows if r["sheet_index"] == idx),
            key=lambda r: r["line_no"],
        )
        path = os.path.join(paths["sheets"], f"sheet{idx}.xlsx")
        write_xlsx(path, {f"sheet{idx}": _sheet_layout(cfg, data)})
        sheets[idx] = (path, data)
        n_rows += len(data)
    return {"paths": paths, "sheets": sheets, "input_rows": n_rows}


def _doc(rng: random.Random, doc_id: int) -> tuple:
    text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 99)))
    return (doc_id, text, rng.choice(LANGS), f"src{doc_id % 20}", len(text))


class DocumentStream:
    """The ingest client's inputs: a store-seeding corpus and a
    closed-loop sequence of disjoint micro-batches. Each batch is fresh
    documents plus exact copies of corpus documents and of documents
    the previous batch accepted — the two cases whose verdicts the
    correctness gate can state without an oracle."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed * 7919 + 17)
        self.corpus = [_doc(self.rng, i) for i in range(CORPUS_DOCS)]
        self.next_id = 10 * CORPUS_DOCS

    def batch(self, prev_accepted: list[tuple]) -> tuple[list, set, set]:
        """Return ``(rows, corpus_copy_ids, resent_ids)``."""
        fresh = BATCH_DOCS - CORPUS_COPIES - RESENT_COPIES
        rows = []
        for _ in range(fresh):
            rows.append(_doc(self.rng, self.next_id))
            self.next_id += 1

        def copy_of(src) -> tuple:
            row = (self.next_id,) + tuple(src[1:])
            self.next_id += 1
            return row

        copies = [copy_of(d) for d in self.rng.sample(self.corpus, CORPUS_COPIES)]
        pool = sorted(prev_accepted)
        resent = [
            copy_of(d)
            for d in self.rng.sample(pool, min(RESENT_COPIES, len(pool)))
        ]
        while len(rows) + len(copies) + len(resent) < BATCH_DOCS:
            rows.append(_doc(self.rng, self.next_id))
            self.next_id += 1
        out = rows + copies + resent
        self.rng.shuffle(out)
        return out, {r[0] for r in copies}, {r[0] for r in resent}
