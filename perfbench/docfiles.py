"""Seeded document file sets for the ``doc_ingest`` workload.

Each set is one directory of .txt, .md and FlateDecode .pdf files whose
words come from the generated ``documents`` table.  Next to the bytes,
the generator keeps what the engine should make of them: the
whitespace-normalized text of every page, from which the benchmark
derives the expected chunk count (size/overlap arithmetic) and the
extracted character count of the set.
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

CHUNK_SIZE, CHUNK_OVERLAP = 800, 120  # the engine's ingest parameters
WORDS_PER_LINE = 12


@dataclass
class FileSet:
    path: str
    # file name -> normalized text of each page, in page order
    pages: dict[str, list[str]]

    @property
    def chars(self) -> int:
        return sum(len(t) for ps in self.pages.values() for t in ps)

    def chunk_chars(self) -> int:
        """Characters in all chunks the engine cuts (overlaps counted)."""
        step = CHUNK_SIZE - CHUNK_OVERLAP
        return sum(
            min(CHUNK_SIZE, len(t) - start) if t else 0
            for ps in self.pages.values()
            for t in ps
            for start in range(0, max(len(t) - 1, 0) + 1, step)
        )

    def expected_chunks(self) -> dict[tuple[str, int], int]:
        return {
            (name, i + 1): n_chunks(len(text))
            for name, ps in self.pages.items()
            for i, text in enumerate(ps)
        }


def n_chunks(length: int, size: int = CHUNK_SIZE, overlap: int = CHUNK_OVERLAP) -> int:
    """Chunks the engine cuts from ``length`` chars: starts at 0, step
    size - overlap, up to the last char (one empty chunk for "")."""
    return max(length - 1, 0) // (size - overlap) + 1


def pdf_bytes(pages: list[list[str]]) -> bytes:
    """A minimal PDF: catalog, page tree, one FlateDecode content stream
    per page showing each line with Tj and advancing with T*."""
    objs: dict[int, bytes] = {}
    page_ids = [3 + 2 * i for i in range(len(pages))]
    kids = " ".join(f"{pid} 0 R" for pid in page_ids)
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = f"<< /Type /Pages /Kids [{kids}] /Count {len(pages)} >>".encode()
    for i, lines in enumerate(pages):
        shown = " T* ".join(f"({ln}) Tj" for ln in lines)
        stream = zlib.compress(f"BT /F1 11 Tf 14 TL 72 720 Td {shown} ET".encode())
        objs[4 + 2 * i] = b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream" % (
            len(stream),
            stream,
        )
        objs[page_ids[i]] = (
            f"<< /Type /Page /Parent 2 0 R /Contents {4 + 2 * i} 0 R >>".encode()
        )
    body = b"%PDF-1.4\n" + b"".join(
        b"%d 0 obj\n%s\nendobj\n" % (n, objs[n]) for n in sorted(objs)
    )
    return body + b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"


def _lines(words: list[str]) -> list[str]:
    return [
        " ".join(words[i : i + WORDS_PER_LINE])
        for i in range(0, len(words), WORDS_PER_LINE)
    ]


# (words, format) of the files of a set: the same in every set and
# every seed, so that ops cost alike; the seed picks the words and how
# many pages each PDF has
FILES = ((200, "txt"), (450, "pdf"), (700, "md"), (950, "pdf"), (1200, "txt"))


def make_file_sets(data_dir: str, out_dir: str, seed: int, n_sets: int) -> list[FileSet]:
    """Write ``n_sets`` file sets under ``out_dir``, each with the files
    of :data:`FILES`, filled with a seeded run of words from the
    documents corpus; a PDF spreads its words over 1-4 pages."""
    rng = np.random.default_rng([seed, 0xD0C5])
    texts = pq.read_table(os.path.join(data_dir, "documents.parquet"), columns=["text"])
    words = " ".join(texts.column("text").to_pylist()).split()
    sets = []
    for s in range(n_sets):
        path = os.path.join(out_dir, f"set{s:02d}")
        os.makedirs(path)
        pages: dict[str, list[str]] = {}
        for f, (n, kind) in enumerate(FILES):
            start = int(rng.integers(0, len(words) - n))
            chunk = words[start : start + n]
            name = f"f{f}.{kind}"
            if kind == "pdf":
                n_pages = int(rng.integers(1, 5))
                cuts = np.array_split(np.arange(n), n_pages)
                page_words = [[chunk[i] for i in c] for c in cuts if len(c)]
                data = pdf_bytes([_lines(pw) for pw in page_words])
                pages[name] = [" ".join(pw) for pw in page_words]
            else:
                body = "\n".join(_lines(chunk))
                if kind == "md":
                    body = f"# Notes {s}-{f}\n\n" + body.replace("\n", "\n\n", 2)
                data = body.encode()
                pages[name] = [" ".join(body.split())]
            with open(os.path.join(path, name), "wb") as fh:
                fh.write(data)
        sets.append(FileSet(path, pages))
    return sets
