"""Output checks.

- pdf_qa: a pure-Python twin of R2–R8 (q152's golden path: paginate_text,
  split_recursive, StubLLM, extract_json_python) gives every document's
  exact records and the exact valid/invalid split.
- rag_lookup: every answer must be accepted with the corpus answer, or
  rejected with the sentinel.
- curation_jobs: collected rows must equal the canonicalized DuckDB
  ``ORACLE`` rows, which are computed once, outside timing.
"""

from __future__ import annotations

import json
import os

from ai_data_pipeline_spark.operators.chunker import paginate_text, split_recursive
from ai_data_pipeline_spark.operators.json_fallback import extract_json_python
from ai_data_pipeline_spark.operators.llm_map import PROMPT_TEMPLATE, StubLLM
from ai_data_pipeline_spark.oracle import _canon_rows

# q152's sizes
PAGE_CHARS = 200
CHUNK_SIZE = 300
CHUNK_OVERLAP = 60

Record = tuple[str, str, str, int, int]  # question, answer, source_file, window, subchunk


def pdf_name(doc_id: int) -> str:
    """File name ``materialize_pdf_corpus`` gives a document."""
    return f"doc_{int(doc_id):06d}.pdf"


def expected_records(doc_id: int, text: str) -> tuple[list[Record], int]:
    """(valid records, invalid count) the engine must produce for one
    document. Pages round-trip through the PDF modulo the reader's
    strip("\\n"); blank pages are dropped but keep their 1-based number,
    windows are taken on odd page numbers over the kept pages."""
    stub = StubLLM()
    pages = [p.strip("\n") for p in paginate_text(text or "", PAGE_CHARS)]
    kept = [(i + 1, p) for i, p in enumerate(pages) if p.strip(" ") != ""]
    records: list[Record] = []
    invalid = 0
    window = 0
    for pos, (page_no, _) in enumerate(kept):
        if page_no % 2 != 1:
            continue
        window += 1
        window_text = "\n\n".join(p for _, p in kept[max(0, pos - 2) : pos + 3])
        chunks = split_recursive(window_text, CHUNK_SIZE, CHUNK_OVERLAP)
        for sub, chunk in enumerate(chunks, 1):
            d = extract_json_python(stub.generate([PROMPT_TEMPLATE.format(chunk=chunk)])[0])
            if d is not None and d.get("question") is not None and d.get("answer") is not None:
                records.append((d["question"], d["answer"], pdf_name(doc_id), window, sub))
            else:
                invalid += 1
    return sorted(records), invalid


def read_sink(out_dir: str) -> dict[str, list[Record]]:
    """source_file → sorted records found in a partitioned JSONL sink."""
    found: dict[str, list[Record]] = {}
    for part in os.listdir(out_dir):
        if not part.startswith("source_stem="):
            continue
        pdir = os.path.join(out_dir, part)
        for name in os.listdir(pdir):
            if not name.endswith(".json"):
                continue
            with open(os.path.join(pdir, name)) as f:
                for line in f:
                    r = json.loads(line)
                    found.setdefault(r["source_file"], []).append(
                        (r["question"], r["answer"], r["source_file"],
                         r["window_index"], r["subchunk_index"])
                    )
    return {k: sorted(v) for k, v in found.items()}


def check_pdf_qa(
    expected: dict[str, list[Record]], found: dict[str, list[Record]]
) -> int:
    """Documents whose sink records differ from the twin's."""
    failed = sum(1 for name, recs in expected.items() if found.get(name, []) != recs)
    return failed + sum(1 for name in found if name not in expected)


def check_answer(rows: list, want_answer: str | None, sentinel: str) -> bool:
    """One kNN result: accepted with the corpus answer, or rejected
    with the sentinel when the question is novel."""
    if len(rows) != 1:
        return False
    r = rows[0]
    if want_answer is None:
        return r["accepted"] is False and r["answer"] == sentinel
    return r["accepted"] is True and r["answer"] == want_answer


def canonical(rows: list[tuple], columns: list[str]) -> tuple[list[str], list[tuple]]:
    return sorted(columns), _canon_rows(rows, columns)
