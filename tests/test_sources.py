from __future__ import annotations

import pytest

from vector_mcp_spark.sources.readers import (
    chunk_documents,
    read_documents,
    resolve_document_paths,
)
from vector_mcp_spark.validation import EngineError


def test_read_text_and_html(spark, tmp_path):
    (tmp_path / "a.txt").write_text("plain text body")
    (tmp_path / "b.html").write_text("<html><b>bold</b> words</html>")
    got = {r.path.split("/")[-1]: r.content for r in read_documents(spark, [str(tmp_path)]).collect()}
    assert got["a.txt"] == "plain text body"
    assert "bold" in got["b.html"] and "<b>" not in got["b.html"]


def _make_docx(paragraphs):
    import io
    import zipfile

    ns = 'xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"'
    body = "".join(f"<w:p><w:r><w:t>{p}</w:t></w:r></w:p>" for p in paragraphs)
    xml = f'<?xml version="1.0"?><w:document {ns}><w:body>{body}</w:body></w:document>'
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("word/document.xml", xml)
    return buf.getvalue()


def _make_epub(chapters):
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("mimetype", "application/epub+zip")
        for i, ch in enumerate(chapters):
            z.writestr(f"ch{i}.xhtml", f"<html><body><p>{ch}</p></body></html>")
    return buf.getvalue()


def _make_pptx(slides: list[list[str]]) -> bytes:
    """Minimal real PresentationML zip: one slide<N>.xml per slide with a:p
    paragraphs of a:r/a:t runs (namelist deliberately out of slide order)."""
    import io
    import zipfile

    buf = io.BytesIO()
    a = "http://schemas.openxmlformats.org/drawingml/2006/main"
    p = "http://schemas.openxmlformats.org/presentationml/2006/main"
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0"?><Types xmlns='
            '"http://schemas.openxmlformats.org/package/2006/content-types"/>',
        )
        # write slide 2 before slide 1: decode must order by slide NUMBER
        for i in reversed(range(len(slides))):
            body = "".join(
                f'<a:p><a:r><a:t>{line}</a:t></a:r></a:p>' for line in slides[i]
            )
            z.writestr(
                f"ppt/slides/slide{i + 1}.xml",
                f'<?xml version="1.0"?><p:sld xmlns:p="{p}" xmlns:a="{a}">'
                f"<p:cSld><p:spTree><p:sp><p:txBody>{body}</p:txBody></p:sp>"
                f"</p:spTree></p:cSld></p:sld>",
            )
    return buf.getvalue()


def test_pptx_decode_roundtrip(spark, tmp_path):
    (tmp_path / "deck.pptx").write_bytes(
        _make_pptx([["Title slide", "Subtitle text"], ["Second slide bullet"]])
    )
    got = {r.path.split("/")[-1]: r.content
           for r in read_documents(spark, [str(tmp_path)]).collect()}
    assert got["deck.pptx"] == "Title slide\nSubtitle text\nSecond slide bullet"


def _make_pdf(text_ops: bytes) -> bytes:
    import zlib

    comp = zlib.compress(text_ops)
    return (
        b"%PDF-1.4\n1 0 obj\n<< /Length "
        + str(len(comp)).encode()
        + b" /Filter /FlateDecode >>\nstream\n"
        + comp
        + b"\nendstream\nendobj\ntrailer\n%%EOF\n"
    )


def test_rich_formats_decode(spark, tmp_path):
    (tmp_path / "d.docx").write_bytes(_make_docx(["First para", "Second para"]))
    (tmp_path / "b.epub").write_bytes(_make_epub(["Chapter one text", "Chapter two text"]))
    (tmp_path / "p.pdf").write_bytes(
        _make_pdf(rb"BT /F1 12 Tf (Hello \(escaped\)) Tj [(Wo) -20 (rld)] TJ ET")
    )
    got = {r.path.split("/")[-1]: r.content for r in read_documents(spark, [str(tmp_path)]).collect()}
    assert got["d.docx"] == "First para\nSecond para"
    assert "Chapter one text" in got["b.epub"] and "Chapter two text" in got["b.epub"]
    assert "Hello (escaped)" in got["p.pdf"] and "World" in got["p.pdf"]


def _pdf_body_and_offsets(objs: dict[int, bytes]) -> tuple[bytes, dict[int, int]]:
    """Serialize ``num 0 obj ... endobj`` bodies, returning byte offsets."""
    out, offsets = b"%PDF-1.5\n", {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    return out, offsets


def _xref_stream_obj(num: int, size: int, entries: list[tuple[int, int, int]], root: int) -> bytes:
    """A REAL PDF 1.5 cross-reference stream: /W [1 2 1] rows (type, field2,
    field3), FlateDecode with PNG Up predictor (/Predictor 12) — the layout
    mainstream writers emit."""
    import zlib as _z

    cols = 4
    rows = [bytes([t]) + f2.to_bytes(2, "big") + bytes([f3]) for t, f2, f3 in entries]
    prev, png = bytes(cols), b""
    for r in rows:
        png += b"\x02" + bytes((r[i] - prev[i]) & 0xFF for i in range(cols))
        prev = r
    comp = _z.compress(png)
    return (
        b"<< /Type /XRef /Size %d /W [1 2 1] /Root %d 0 R /Length %d"
        b" /Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns 3 >> >>\n"
        b"stream\n" % (size, root, len(comp)) + comp + b"\nendstream"
    )


def _make_xref_stream_pdf(text: bytes) -> bytes:
    """PDF 1.5 whose ONLY index is a cross-reference stream (no classic
    'xref' table) — the layout that used to raise NotImplementedError."""
    import zlib as _z

    content = _z.compress(b"BT /F1 12 Tf (" + text + b") Tj ET")
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(content)
           + content + b"\nendstream",
    }
    body, off = _pdf_body_and_offsets(objs)
    xref_off = len(body)
    entries = [(0, 0, 255)] + [(1, off[n], 0) for n in sorted(objs)] + [(1, xref_off, 0)]
    body += b"5 0 obj\n" + _xref_stream_obj(5, 6, entries, root=1) + b"\nendobj\n"
    return body + b"startxref\n%d\n%%%%EOF\n" % xref_off


def _make_objstm_pdf(hex_text: bytes) -> bytes:
    """PDF 1.5 whose catalog/pages/PAGE dicts live inside a compressed
    object stream (/Type /ObjStm) — finding /Contents requires expanding
    it. The content stream shows a HEX string (<...> Tj)."""
    import zlib as _z

    packed_objs = [
        (1, b"<< /Type /Catalog /Pages 3 0 R >>"),
        (3, b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>"),
        (4, b"<< /Type /Page /Parent 3 0 R /Contents 5 0 R >>"),
    ]
    payload, header = b"", b""
    for num, d in packed_objs:
        header += b"%d %d " % (num, len(payload))
        payload += d + b" "
    first = len(header)
    objstm_content = _z.compress(header + payload)
    content = _z.compress(b"BT <" + hex_text.hex().encode() + b"> Tj ET")
    objs = {
        2: b"<< /Type /ObjStm /N %d /First %d /Length %d /Filter /FlateDecode >>\n"
           b"stream\n" % (len(packed_objs), first, len(objstm_content))
           + objstm_content + b"\nendstream",
        5: b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(content)
           + content + b"\nendstream",
    }
    body, off = _pdf_body_and_offsets(objs)
    xref_off = len(body)
    entries = [(0, 0, 255), (2, 2, 0), (1, off[2], 0), (2, 2, 1), (2, 2, 2),
               (1, off[5], 0), (1, xref_off, 0)]
    body += b"6 0 obj\n" + _xref_stream_obj(6, 7, entries, root=1) + b"\nendobj\n"
    return body + b"startxref\n%d\n%%%%EOF\n" % xref_off


def test_xref_stream_pdf_extracts_text(spark, tmp_path):
    """Cross-reference-stream PDFs (PDF 1.5+, no classic xref table) extract
    text — VERDICT r5 S5 gap; NotImplementedError is reserved for encryption."""
    (tmp_path / "x.pdf").write_bytes(_make_xref_stream_pdf(b"Xref stream body text"))
    got = {r.path.split("/")[-1]: r.content
           for r in read_documents(spark, [str(tmp_path)]).collect()}
    assert got["x.pdf"] == "Xref stream body text"


def test_objstm_pdf_extracts_text(spark, tmp_path):
    """Object-stream PDFs: the page tree lives compressed inside an ObjStm;
    text shows via a hex string. Both must decode."""
    (tmp_path / "o.pdf").write_bytes(_make_objstm_pdf(b"Packed object text"))
    got = {r.path.split("/")[-1]: r.content
           for r in read_documents(spark, [str(tmp_path)]).collect()}
    assert got["o.pdf"] == "Packed object text"


def test_multipage_pdf_page_order(spark, tmp_path):
    """Text comes from the page tree's /Contents in page order, not file
    order, and /Contents arrays concatenate."""
    import zlib as _z

    c_p2 = _z.compress(b"BT (second page) Tj ET")
    c_p1a, c_p1b = _z.compress(b"BT (first) Tj ET"), _z.compress(b"BT (page) Tj ET")
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 >>",
        # page object for page TWO appears first in the file (obj 3 < obj 4
        # but /Contents 7 comes later in the doc) — order must follow pages
        3: b"<< /Type /Page /Parent 2 0 R /Contents [5 0 R 6 0 R] >>",
        4: b"<< /Type /Page /Parent 2 0 R /Contents 7 0 R >>",
        5: b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(c_p1a) + c_p1a + b"\nendstream",
        6: b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(c_p1b) + c_p1b + b"\nendstream",
        7: b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(c_p2) + c_p2 + b"\nendstream",
    }
    body, off = _pdf_body_and_offsets(objs)
    (tmp_path / "m.pdf").write_bytes(body + b"%%EOF\n")
    got = {r.path.split("/")[-1]: r.content
           for r in read_documents(spark, [str(tmp_path)]).collect()}
    assert got["m.pdf"] == "first\npage\nsecond page"


def test_pdf_kids_order_beats_object_number_order(spark, tmp_path):
    """Kids [4 0 R 3 0 R]: page ONE lives in the HIGHER-numbered object —
    object-number order would concatenate the pages reversed (ADVICE r6)."""
    import zlib as _z

    from vector_mcp_spark.sources.richformats import decode_pdf

    c1 = _z.compress(b"BT (alpha page) Tj ET")
    c2 = _z.compress(b"BT (omega page) Tj ET")
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [4 0 R 3 0 R] /Count 2 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>",
        4: b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>",
        5: b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(c1) + c1 + b"\nendstream",
        6: b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(c2) + c2 + b"\nendstream",
    }
    body, _ = _pdf_body_and_offsets(objs)
    assert decode_pdf(body + b"%%EOF\n") == "alpha page\nomega page"
    # nested intermediate /Pages nodes walk depth-first
    objs[2] = b"<< /Type /Pages /Kids [7 0 R 3 0 R] /Count 2 >>"
    objs[7] = b"<< /Type /Pages /Parent 2 0 R /Kids [4 0 R] /Count 1 >>"
    body, _ = _pdf_body_and_offsets(objs)
    assert decode_pdf(body + b"%%EOF\n") == "alpha page\nomega page"


def test_undecodable_rich_formats_raise(spark, tmp_path):
    (tmp_path / "doc.pdf").write_bytes(b"%PDF-fake no streams here")
    with pytest.raises(Exception, match="parser library"):
        read_documents(spark, [str(tmp_path)]).collect()


def test_encrypted_pdf_raises(spark, tmp_path):
    (tmp_path / "enc.pdf").write_bytes(b"%PDF-1.4\n/Encrypt 1 0 R\nstream\nxx\nendstream")
    with pytest.raises(Exception, match="encrypted"):
        read_documents(spark, [str(tmp_path)]).collect()


def test_path_confinement(tmp_path):
    (tmp_path / "ok.txt").write_text("x")
    assert resolve_document_paths(str(tmp_path), ["ok.txt"]) == [str(tmp_path / "ok.txt")]
    with pytest.raises(EngineError, match="document_path_escapes_root"):
        resolve_document_paths(str(tmp_path), ["../etc/passwd"])
    with pytest.raises(EngineError, match="document_path_escapes_root"):
        resolve_document_paths(str(tmp_path), ["/abs/path.txt"])
    with pytest.raises(EngineError, match="document_path_url_rejected"):
        resolve_document_paths(str(tmp_path), ["https://example.com/x.txt"])


def test_symlink_rejected(tmp_path):
    target = tmp_path / "real.txt"
    target.write_text("x")
    link = tmp_path / "link.txt"
    link.symlink_to(target)
    with pytest.raises(EngineError, match="document_path_symlink_rejected"):
        resolve_document_paths(str(tmp_path), ["link.txt"])


def test_chunking_covers_all_tokens(spark):
    text = " ".join(f"tok{i}" for i in range(1000))
    df = spark.createDataFrame([(1, text)], "id int, content string")
    chunks = chunk_documents(df, chunk_tokens=512, overlap_tokens=64).collect()
    assert len(chunks) > 1
    # every chunk ≤ 512 tokens (the reference's chunk-size gate,
    # tests/reproduce_chunking.py:15-20)
    assert all(len(c.chunk_text.split()) <= 512 for c in chunks)
    # all tokens covered
    seen = set()
    for c in chunks:
        seen.update(c.chunk_text.split())
    assert len(seen) == 1000
    # chunk ids are doc-scoped positions
    assert [c.chunk_id for c in sorted(chunks, key=lambda c: c.chunk_pos)][0] == "1_0"


def test_chunking_overlap(spark):
    text = " ".join(f"t{i}" for i in range(20))
    df = spark.createDataFrame([(1, text)], "id int, content string")
    chunks = sorted(
        chunk_documents(df, chunk_tokens=10, overlap_tokens=4).collect(), key=lambda c: c.chunk_pos
    )
    first, second = chunks[0].chunk_text.split(), chunks[1].chunk_text.split()
    assert first[-4:] == second[:4]  # fixed overlap


def test_short_doc_single_chunk(spark):
    df = spark.createDataFrame([(1, "just a few tokens")], "id int, content string")
    chunks = chunk_documents(df, chunk_tokens=512, overlap_tokens=64).collect()
    assert len(chunks) == 1 and chunks[0].chunk_id == "1_0"


def test_invalid_overlap_raises(spark):
    df = spark.createDataFrame([(1, "x y")], "id int, content string")
    with pytest.raises(EngineError, match="chunk_overlap_invalid"):
        chunk_documents(df, chunk_tokens=10, overlap_tokens=10)


# -- structured (JSONL / CSV) corpus reader -----------------------------------


def test_suite_load_reads_directory_parquet(spark, tmp_path):
    """suite.load must accept Spark-written (directory) parquet as well as
    the driver's single-file tables — the schema probe resolves a part
    file for the NTZ/nanos normalization check."""
    from vector_mcp_spark.suite import load

    src = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    out = str(tmp_path / "documents.parquet")
    src.write.parquet(out)
    got = load(spark, str(tmp_path), "documents")
    assert sorted((r.doc_id, r.text) for r in got.collect()) == [(1, "a"), (2, "b")]


def test_ipynb_decode_roundtrip(spark, tmp_path):
    import json

    nb4 = {
        "nbformat": 4,
        "cells": [
            {"cell_type": "markdown", "source": ["# Analysis\n", "Notes here."]},
            {
                "cell_type": "code",
                "source": "print('hi')",
                "outputs": [
                    {"output_type": "stream", "text": ["hi\n"]},
                    {"output_type": "execute_result", "data": {"text/plain": "42"}},
                ],
            },
            {"cell_type": "code", "source": [], "outputs": []},  # empty cell skipped
        ],
    }
    nb3 = {
        "nbformat": 3,
        "worksheets": [{"cells": [{"cell_type": "code", "input": "x = 1"}]}],
    }
    (tmp_path / "a.ipynb").write_text(json.dumps(nb4))
    (tmp_path / "old.ipynb").write_text(json.dumps(nb3))
    got = {r.path.split("/")[-1]: r.content
           for r in read_documents(spark, [str(tmp_path)]).collect()}
    assert got["a.ipynb"] == "# Analysis\nNotes here.\n\nprint('hi')\n\nhi\n\n42"
    assert got["old.ipynb"] == "x = 1"


def test_mbox_decode_roundtrip(spark, tmp_path):
    mbox = (
        b"From alice@example.com Thu Jan  1 00:00:00 2026\n"
        b"Subject: First message\n"
        b"From: alice@example.com\n"
        b"Content-Type: text/plain\n"
        b"\n"
        b"Body one.\n"
        b">From escaped body line survives.\n"
        b"\n"
        b"From bob@example.com Thu Jan  2 00:00:00 2026\n"
        b"Subject: Second\n"
        b"MIME-Version: 1.0\n"
        b'Content-Type: multipart/alternative; boundary="B"\n'
        b"\n"
        b"--B\n"
        b"Content-Type: text/plain\n"
        b"\n"
        b"Plain part.\n"
        b"--B\n"
        b"Content-Type: text/html\n"
        b"\n"
        b"<p>html ignored</p>\n"
        b"--B--\n"
    )
    (tmp_path / "mail.mbox").write_bytes(mbox)
    got = {r.path.split("/")[-1]: r.content
           for r in read_documents(spark, [str(tmp_path)]).collect()}
    text = got["mail.mbox"]
    first, second = text.split("\n\n")
    assert first.startswith("Subject: First message")
    assert "Body one." in first
    # mboxo/mboxrd escaping is reversed: the sender wrote "From ..."
    assert "\nFrom escaped body line survives." in first
    assert ">From escaped" not in first
    assert second.startswith("Subject: Second")
    assert "Plain part." in second and "html ignored" not in second


def test_engine_ingest_paths_end_to_end(spark, tmp_path_factory, monkeypatch):
    """The reference's document_paths / include_configured_directory inputs
    route through a fully distributed binaryFile ingest into the same
    partition-pruned upsert (mcp_server.py:94-101, vector_api.py:319-366)."""
    import pytest as _pytest

    from vector_mcp_spark.engine import CollectionEngine, EngineError

    root = tmp_path_factory.mktemp("doc_root")
    (root / "sub").mkdir()
    (root / "a.txt").write_text("alpha file body")
    (root / "sub" / "b.md").write_text("# beta\nmarkdown body")
    (root / "c.html").write_text("<p>gamma <b>html</b> body</p>")
    (root / "ignored.xyz").write_text("unknown extension skipped")
    (root / "dup.txt").write_text("alpha file body")  # same content → same id

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("ingest_wh")))
    eng.create_collection("files")

    # unconfigured root fails loudly
    with _pytest.raises(EngineError, match="document_root_unconfigured"):
        eng.ingest_paths("files", rel_paths=["a.txt"])

    monkeypatch.setenv(CollectionEngine.DOCUMENT_ROOT_ENV, str(root))
    with _pytest.raises(EngineError, match="document_input_required"):
        eng.ingest_paths("files")

    # explicit relative paths, confinement enforced
    assert eng.ingest_paths("files", rel_paths=["a.txt", "sub/b.md"]) == 2
    with _pytest.raises(EngineError, match="document_path_escapes_root"):
        eng.ingest_paths("files", rel_paths=["../escape.txt"])

    # whole configured root: dedups the duplicate content, skips unknown
    # extensions, strips html tags; re-ingest upserts (no duplicate rows)
    n = eng.ingest_paths("files", include_configured_directory=True)
    assert n == 3  # alpha (dup collapsed), beta, gamma
    rows = {r.content for r in eng.read("files").collect()}
    assert "alpha file body" in rows
    assert any("markdown body" in c for c in rows)
    assert any("gamma" in c and "<b>" not in c for c in rows)
    assert eng.count_documents("files") == 3


def test_veneer_add_documents_by_path(spark, tmp_path_factory, monkeypatch):
    from vector_mcp_spark.engine import CollectionEngine
    from vector_mcp_spark.mcp import McpVeneer

    root = tmp_path_factory.mktemp("doc_root2")
    (root / "only.txt").write_text("the only file")
    monkeypatch.setenv(CollectionEngine.DOCUMENT_ROOT_ENV, str(root))
    v = McpVeneer(CollectionEngine(spark, str(tmp_path_factory.mktemp("ingest_wh2"))))
    v.vector_collection_management("create_collection", collection_name="byp")
    assert v.vector_collection_management("add_documents", collection_name="byp") == {
        "error": "document_input_required"
    }
    out = v.vector_collection_management(
        "add_documents", collection_name="byp", document_paths=["only.txt"]
    )
    assert out == {"collection_name": "byp", "documents_added": 1}
    # mixed inline + file input sums
    out = v.vector_collection_management(
        "add_documents",
        collection_name="byp",
        document_contents=["inline doc"],
        include_configured_directory=True,
    )
    assert out["documents_added"] == 2  # 1 inline + 1 file (upserted again)


def test_directory_ingestion_per_file_confinement(spark, tmp_path_factory, monkeypatch):
    """ADVICE r9: directory targets are enumerated driver-side through the
    same per-file checks as leaf rel_paths — a symlink anywhere in the
    configured root is a hard error (document_inputs.py:125-131), oversized
    files are rejected, and the binaryFile scan only ever receives the
    vetted leaf list (never an unchecked subtree)."""
    import os as _os

    import pytest as _pytest

    from vector_mcp_spark.engine import CollectionEngine, EngineError
    from vector_mcp_spark.sources.readers import (
        enumerate_document_root,
        resolve_document_paths,
    )

    root = tmp_path_factory.mktemp("conf_root")
    (root / "sub").mkdir()
    (root / "a.txt").write_text("alpha")
    (root / "sub" / "b.txt").write_text("beta")

    # clean root enumerates its leaves
    assert [p.rsplit("/", 1)[-1] for p in enumerate_document_root(str(root))] == [
        "a.txt", "b.txt"]

    # rel_paths must be existing regular files
    with _pytest.raises(EngineError, match="document_path_not_a_file"):
        resolve_document_paths(str(root), ["sub"])
    with _pytest.raises(EngineError, match="document_path_not_found"):
        resolve_document_paths(str(root), ["missing.txt"])

    # a symlinked PARENT component is rejected even when the leaf is real
    outside = tmp_path_factory.mktemp("outside")
    (outside / "secret.txt").write_text("outside the root")
    _os.symlink(str(outside), str(root / "linkdir"))
    with _pytest.raises(EngineError, match="document_path_symlink_rejected"):
        resolve_document_paths(str(root), ["linkdir/secret.txt"])
    # ... and poisons whole-root enumeration (reference: hard error)
    with _pytest.raises(EngineError, match="document_root_symlink_rejected"):
        enumerate_document_root(str(root))
    monkeypatch.setenv(CollectionEngine.DOCUMENT_ROOT_ENV, str(root))
    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("conf_wh")))
    eng.create_collection("c")
    with _pytest.raises(EngineError, match="document_root_symlink_rejected"):
        eng.ingest_paths("c", include_configured_directory=True)
    _os.unlink(str(root / "linkdir"))

    # per-file size cap applies to enumerated files, not just named ones
    (root / "big.txt").write_bytes(b"x" * (64 * 1024 * 1024 + 1))
    with _pytest.raises(EngineError, match="document_file_too_large"):
        enumerate_document_root(str(root))
    (root / "big.txt").unlink()

    # the clean tree still ingests end-to-end through the vetted list
    assert eng.ingest_paths("c", include_configured_directory=True) == 2


def test_ingest_caps_apply_to_combined_channels(spark, tmp_path_factory, monkeypatch):
    """Review r9: rel_paths and include_configured_directory were capped
    separately — the UNION must honor the same file-count bound."""
    import pytest as _pytest

    from vector_mcp_spark import engine as engine_mod
    from vector_mcp_spark.engine import CollectionEngine, EngineError
    from vector_mcp_spark.sources import readers

    root = tmp_path_factory.mktemp("cap_root")
    for i in range(4):
        (root / f"f{i}.txt").write_text(f"file {i}")
    monkeypatch.setenv(CollectionEngine.DOCUMENT_ROOT_ENV, str(root))
    monkeypatch.setattr(readers, "MAX_DOCUMENT_FILES", 4)
    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("cap_wh")))
    eng.create_collection("c")
    # each channel alone is exactly at the cap...
    (root / "extra.txt").write_text("tips the union over")
    with _pytest.raises(EngineError, match="document_paths_too_many"):
        eng.ingest_paths(
            "c",
            rel_paths=[f"f{i}.txt" for i in range(4)],
            include_configured_directory=True,
        )
