"""Document file ingestion — SURVEY.md §2.1 S5/S6.

The reference ingests files via llama-index ``SimpleDirectoryReader``
(``vector_mcp/vector_api.py:319-366``) with strict path confinement
(``vector_mcp/document_inputs.py:19-147``): root-confined relative paths,
no symlinks/URLs/traversal, per-file and total size caps.

Spark-side: ``binaryFile`` scan + per-extension decoder inside a
``mapInPandas`` Pandas-UDF (the right shape for Arrow batching at scale).
Plain-text/markdown/html decode directly; docx/pptx/epub/simple-PDF decode via
the pure-stdlib extractors in ``richformats.py`` (zipfile + ElementTree +
zlib) — encrypted or undecodable rich files raise ``NotImplementedError``
at the same seam a full parser library would fill.

Path confinement is driver-side validation (it guards the API boundary, not
the scan) — same placement as the reference.
"""

from __future__ import annotations

import re
from collections.abc import Iterator, Sequence
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_mcp_spark.validation import EngineError

MAX_FILE_BYTES = 64 * 1024 * 1024  # document_inputs.py:13-16
MAX_DOCUMENT_FILES = 1_000  # document_inputs.py:13
MAX_TOTAL_BYTES = 512 * 1024 * 1024  # document_inputs.py:15
TEXT_EXTENSIONS = {".txt", ".md", ".markdown", ".html", ".htm", ".csv", ".json"}
RICH_EXTENSIONS = {".pdf", ".docx", ".epub", ".pptx", ".ipynb", ".mbox"}

_TAG_RE = re.compile(r"<[^>]+>")


def resolve_document_paths(root: str, rel_paths: Sequence[str]) -> list[str]:
    """Root confinement (document_inputs.py:69-117): relative paths only,
    no URLs, no traversal, no symlinks (any path component), leaf must be a
    regular file, per-file and total size caps. Returns absolute paths."""
    rootp = Path(root).resolve()
    if len(rel_paths) > MAX_DOCUMENT_FILES:
        raise EngineError("document_paths_too_many")
    out: list[str] = []
    total = 0
    for rel in rel_paths:
        if re.match(r"^[a-z][a-z0-9+.-]*://", rel, re.IGNORECASE):
            raise EngineError("document_path_url_rejected")
        p = Path(rel)
        if p.is_absolute() or ".." in p.parts:
            raise EngineError("document_path_escapes_root")
        # walk every component (document_inputs.py:85-93): a symlinked
        # PARENT re-roots the leaf just as a symlinked leaf does
        cursor = rootp
        for part in p.parts:
            cursor = cursor / part
            if cursor.is_symlink():
                raise EngineError("document_path_symlink_rejected")
        full = rootp / p
        if not full.resolve().is_relative_to(rootp):
            raise EngineError("document_path_escapes_root")
        if not full.exists():
            raise EngineError("document_path_not_found", detail=rel)
        if not full.is_file():
            # directories must go through enumerate_document_root so every
            # leaf gets these same checks (document_inputs.py:98-104)
            raise EngineError("document_path_not_a_file", detail=rel)
        size = full.stat().st_size
        if size > MAX_FILE_BYTES:
            raise EngineError("document_file_too_large")
        total += size
        if total > MAX_TOTAL_BYTES:
            raise EngineError("document_paths_too_large")
        out.append(str(full))
    return out


def enumerate_document_root(root: str) -> list[str]:
    """Expand the configured document root into its leaf files, applying the
    reference's whole-root rules (document_inputs.py:123-147): any symlink in
    the subtree is a hard error, file count and per-file/total byte caps.
    The returned explicit file list is what reaches the binaryFile scan —
    the scan itself never walks an unchecked subtree (ADVICE r8)."""
    rootp = Path(root).resolve()
    if rootp.is_symlink() or not rootp.is_dir():
        raise EngineError("document_root_invalid")
    files: list[str] = []
    total = 0
    for candidate in sorted(rootp.rglob("*")):
        if candidate.is_symlink():
            raise EngineError("document_root_symlink_rejected", detail=candidate.name)
        if not candidate.is_file():
            continue
        if len(files) >= MAX_DOCUMENT_FILES:
            raise EngineError("document_paths_too_many")
        size = candidate.stat().st_size
        if size > MAX_FILE_BYTES:
            raise EngineError("document_file_too_large")
        total += size
        if total > MAX_TOTAL_BYTES:
            raise EngineError("document_paths_too_large")
        files.append(str(candidate))
    return files


def _decode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    from vector_mcp_spark.sources.richformats import (
        decode_docx,
        decode_epub,
        decode_ipynb,
        decode_mbox,
        decode_pdf,
        decode_pptx,
    )

    rich = {".pdf": decode_pdf, ".docx": decode_docx, ".epub": decode_epub,
            ".pptx": decode_pptx, ".ipynb": decode_ipynb, ".mbox": decode_mbox}
    texts: list[str | None] = []
    for path, content in zip(pdf["path"], pdf["content"]):
        ext = Path(path).suffix.lower()
        if ext in rich:
            texts.append(rich[ext](bytes(content)))
            continue
        text = bytes(content).decode("utf-8", errors="replace")
        if ext in {".html", ".htm"}:
            text = _TAG_RE.sub(" ", text)
        texts.append(text)
    return pd.DataFrame({"path": pdf["path"], "content": texts})


def read_documents(
    spark: SparkSession, paths: Sequence[str], glob: str | None = None
) -> DataFrame:
    """Multi-format document reader: binaryFile scan → Arrow-batched decode
    → (path, content). The Spark analogue of SimpleDirectoryReader."""
    reader = spark.read.format("binaryFile").option("recursiveFileLookup", "true")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    binary = reader.load(list(paths)).select("path", "content")
    return binary.mapInPandas(
        lambda it: (_decode_batch(pdf) for pdf in it), schema="path string, content string"
    )


def chunk_documents(
    docs: DataFrame,
    content_col: str = "content",
    id_col: str = "id",
    chunk_tokens: int = 512,
    overlap_tokens: int = 64,
) -> DataFrame:
    """T5 chunking (SURVEY.md §2.2): sliding token windows ≤ ``chunk_tokens``
    with fixed overlap, exploded to one row per chunk.

    chunk_id = ``<doc id>_<position>`` — reproducible in SQL via
    range + list_slice, so it stays oracle-checkable. Pure Column ops
    (sequence/transform/slice + explode) — no UDF, scales at scan speed.
    """
    from vector_mcp_spark.functions.expr import bind_once
    from vector_mcp_spark.functions.text import tokens

    step = chunk_tokens - overlap_tokens
    if step <= 0:
        raise EngineError("chunk_overlap_invalid")

    # bind_once: an inline tokens() would re-run the tokenizer regexp for
    # every chunk inside the transform lambda — matters for long documents
    def _chunks_of(toks: F.Column) -> F.Column:
        n_chunks = F.greatest(
            F.ceil((F.size(toks) - F.lit(overlap_tokens)).cast("double") / F.lit(step)),
            F.lit(1),
        ).cast("int")
        starts = F.sequence(F.lit(0), n_chunks - 1)
        return F.transform(starts, lambda i: F.struct(
            i.alias("pos"),
            F.array_join(F.slice(toks, i * step + 1, chunk_tokens), " ").alias("chunk"),
        ))

    exploded = docs.withColumn("_chunk", F.explode(bind_once(tokens(F.col(content_col)), _chunks_of)))
    return exploded.select(
        *[c for c in docs.columns if c != content_col],
        F.concat(F.col(id_col).cast("string"), F.lit("_"), F.col("_chunk.pos").cast("string")).alias("chunk_id"),
        F.col("_chunk.pos").alias("chunk_pos"),
        F.col("_chunk.chunk").alias("chunk_text"),
    )
