"""Seeded inputs for the reference-pipeline benchmark.

Everything the program sees is generated here from ``--seed``: a
documents-shaped parquet corpus, the probe queries of the ``search``
workload and the tool-call script of the ``agent`` workload. The same
seed always gives the same inputs. Pure Python plus pyarrow, so the
generator runs before any Spark session exists and its cost is kept
out of every timed figure.
"""

from __future__ import annotations

import math
import os
import random
import string

import pyarrow as pa
import pyarrow.parquet as pq

from spec_search_spark.operators.sheets_pipeline import CELLS_PER_FILE, COLS_PER_ROW
from spec_search_spark.operators.text_analysis import CHUNK_OVERLAP, CHUNK_SIZE

#: cells of the ``ingest`` corpus and of the corpus the agent's
#: ``search_cells`` scans: 84 sheet files of CELLS_PER_FILE cells
INGEST_CELLS = 5_000
#: cells of the ``search`` index corpus (about 69k chunks)
SEARCH_CELLS = 20_000
VOCAB_SIZE = 400
TEXT_CHARS = (150, 450)  # ~3.5 chunks per cell at CHUNK_SIZE/CHUNK_OVERLAP

QUERY_WORDS = (2, 8)
QUERY_KS = (5, 10, 20)

AGENT_SHEETS = 4
AGENT_ROWS = 40  # header row + 39 data rows
AGENT_COLS = 6
AGENT_RECTS = 16  # range pool: 16 rectangles + 8 single cells = 24 strings,
AGENT_CELLS = 8   # inside the toolkit's 32-entry load memo
#: the tool calls of one agent turn: 6 reads, 3 writes, 1 corpus search
AGENT_BLOCK = (
    ["read_values"] * 2
    + ["read_cell"] * 2
    + ["aggregate_range"] * 2
    + ["write_values"] * 2
    + ["write_cell"]
    + ["search_cells"]
)
READ_TOOLS = ("read_values", "read_cell", "aggregate_range")
WRITE_TOOLS = ("write_values", "write_cell")


def vocabulary(rng: random.Random) -> list[str]:
    """VOCAB_SIZE distinct lowercase ASCII words of 3–9 letters."""
    words: set[str] = set()
    while len(words) < VOCAB_SIZE:
        words.add("".join(rng.choices(string.ascii_lowercase, k=rng.randint(3, 9))))
    return sorted(words)


def _zipf_weights(n: int, s: float = 1.0) -> list[float]:
    return [1.0 / (i + 1) ** s for i in range(n)]


def documents(rng: random.Random, vocab: list[str], n_cells: int) -> list[str]:
    """One text per cell: skewed draws from the vocabulary, cut to a
    length uniform in TEXT_CHARS."""
    weights = _zipf_weights(len(vocab), 0.8)
    texts = []
    for _ in range(n_cells):
        target = rng.randint(*TEXT_CHARS)
        words = rng.choices(vocab, weights, k=target // 4)
        text = " ".join(words)
        while len(text) < target:
            text += " " + " ".join(rng.choices(vocab, weights, k=8))
        texts.append(text[:target].rstrip())
    return texts


def write_corpus(sf_dir: str, texts: list[str]) -> None:
    """``documents.parquet`` in the schema ``catalog.load_table`` reads."""
    os.makedirs(sf_dir, exist_ok=True)
    n = len(texts)
    table = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n, pa.string()),
            "source": pa.array([f"src{i % 7}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))


def n_chunks(text: str) -> int:
    """Chunk count of the fixed-stride chunker (functions.text.chunk_indices)."""
    stride = CHUNK_SIZE - CHUNK_OVERLAP
    return max(1, math.ceil((len(text) - CHUNK_OVERLAP) / stride))


def chunk_text(text: str, i: int) -> str:
    stride = CHUNK_SIZE - CHUNK_OVERLAP
    return text[i * stride : i * stride + CHUNK_SIZE]


def a1_col(idx: int) -> str:
    return chr(65 + idx) if idx < 26 else chr(64 + idx // 26) + chr(65 + idx % 26)


def sheet_file_name(doc_id: int) -> str:
    """The sheet file a cell lands in (sheets_connector.build_sheets_fixture)."""
    return f"sheet_{doc_id // CELLS_PER_FILE:03d}"


def cell_id(doc_id: int) -> str:
    """composite_id(file_id, sheet_id, col, row, 0) of a corpus cell."""
    fid = doc_id // CELLS_PER_FILE
    row = (doc_id % CELLS_PER_FILE) // COLS_PER_ROW
    col = doc_id % COLS_PER_ROW
    return f"{fid}_{100 + fid}_{a1_col(col)}{row + 2}_0"


def ingest_ids(texts: list[str]) -> list[str]:
    """Index ids the ingest chain must write: one per chunk of every
    non-empty cell, ``{file_name}_{doc_id}_A{doc_id + 2}_{chunk}``
    (doc_id is the cell's grid position, source is its file name)."""
    return sorted(
        f"{sheet_file_name(d)}_{d}_A{d + 2}_{i}"
        for d, t in enumerate(texts)
        if t
        for i in range(n_chunks(t))
    )


def queries(rng: random.Random, vocab: list[str], n: int) -> list[tuple[str, int]]:
    weights = _zipf_weights(len(vocab), 0.8)
    return [
        (" ".join(rng.choices(vocab, weights, k=rng.randint(*QUERY_WORDS))),
         rng.choice(QUERY_KS))
        for _ in range(n)
    ]


def _range(r_lo: int, r_hi: int, c_lo: int, c_hi: int) -> str:
    return f"{a1_col(c_lo)}{r_lo}:{a1_col(c_hi)}{r_hi}"


def range_pool(rng: random.Random) -> tuple[list[str], list[str]]:
    """AGENT_RECTS rectangles and AGENT_CELLS single cells (as 1×1
    ranges), all below the header row so every cell read is numeric."""
    rects: list[str] = []
    while len(rects) < AGENT_RECTS:
        r_lo = rng.randint(2, AGENT_ROWS - 1)
        r_hi = min(AGENT_ROWS, r_lo + rng.randint(0, 9))
        c_lo = rng.randint(0, AGENT_COLS - 1)
        c_hi = min(AGENT_COLS - 1, c_lo + rng.randint(0, 2))
        s = _range(r_lo, r_hi, c_lo, c_hi)
        if s not in rects:
            rects.append(s)
    cells: list[str] = []
    while len(cells) < AGENT_CELLS:
        r, c = rng.randint(2, AGENT_ROWS), rng.randint(0, AGENT_COLS - 1)
        s = _range(r, r, c, c)
        if s not in cells and s not in rects:
            cells.append(s)
    return rects, cells


def sheet_names() -> list[str]:
    return [f"store{i:02d}" for i in range(AGENT_SHEETS)]


def sheet_grid(rng: random.Random) -> list[list[str]]:
    """Initial contents of one agent sheet: a header row and
    AGENT_ROWS - 1 rows of integer strings (aggregate_range casts them)."""
    header = [f"c{j + 1}" for j in range(AGENT_COLS)]
    return [header] + [
        [str(rng.randint(0, 9999)) for _ in range(AGENT_COLS)]
        for _ in range(AGENT_ROWS - 1)
    ]


def range_shape(range_str: str) -> tuple[int, int]:
    lo, hi = range_str.split(":")
    rows = int(hi[1:]) - int(lo[1:]) + 1
    cols = ord(hi[0]) - ord(lo[0]) + 1
    return rows, cols


def agent_script(
    rng: random.Random, texts: list[str], n_turns: int
) -> list[list[dict]]:
    """The agent workload's tool calls as turns of AGENT_BLOCK, shuffled
    per turn, so every turn has the stated mix. Ranges are drawn with
    skew from the pool; search terms are words taken from corpus cells,
    so every search has at least one hit."""
    rects, cells = range_pool(rng)
    rect_w, cell_w = _zipf_weights(len(rects)), _zipf_weights(len(cells))
    sheets = sheet_names()
    turns = []
    for _ in range(n_turns):
        block = list(AGENT_BLOCK)
        rng.shuffle(block)
        turn = []
        for tool in block:
            call: dict = {"tool": tool, "sheet": rng.choice(sheets)}
            if tool in ("read_cell", "write_cell"):
                call["range"] = rng.choices(cells, cell_w)[0]
            elif tool != "search_cells":
                call["range"] = rng.choices(rects, rect_w)[0]
            if tool == "write_values":
                h, w = range_shape(call["range"])
                call["values"] = [
                    [str(rng.randint(0, 9999)) for _ in range(w)] for _ in range(h)
                ]
            elif tool == "write_cell":
                call["values"] = [[str(rng.randint(0, 9999))]]
            elif tool == "search_cells":
                del call["sheet"]
                call["term"] = rng.choice(rng.choice(texts).split())
            turn.append(call)
        turns.append(turn)
    return turns
