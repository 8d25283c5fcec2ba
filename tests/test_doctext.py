"""Document text extraction contract (operators/doctext.py).

PDF: exact text/metadata recovery through both xref representations
(classic tables AND PDF-1.5 cross-reference streams with /Predictor
12 + ObjStm-packed objects), every supported stream filter, string
escape grammar, incremental-update /Prev chains, and the declared
boundaries (encryption). DOCX: run/paragraph/tab/break assembly and
Dublin-Core metadata. The DuckDB-side check is multimodal_suite's
'doctext' rows (closed-form text per doc)."""

from __future__ import annotations

import re
import zlib

import pytest

from rta_registrations_pyspark_glue_spark.operators import doctext as dt


# ---------------------------------------------------------------------------
# PDF — xref representations


def test_pdf_classic_xref_roundtrip():
    b = dt.encode_minimal_pdf(
        ["Hello world", "Second page"], title="My Title", author="Me"
    )
    m = dt.extract_pdf_text(b)
    assert m["n_pages"] == 2
    assert m["text"] == "Hello world\fSecond page"
    assert (m["title"], m["author"]) == ("My Title", "Me")


def test_pdf_xref_stream_and_objstm():
    b = dt.encode_minimal_pdf(
        ["XS one", "XS two", "XS three"],
        title="X", xref_stream=True, objstm=True,
    )
    assert b"trailer" not in b  # really the stream representation
    m = dt.extract_pdf_text(b)
    assert m["n_pages"] == 3
    assert m["text"] == "XS one\fXS two\fXS three"
    assert m["title"] == "X"


def test_pdf_incremental_update_prev_chain():
    """An appended revision with a /Prev-chained xref must win for the
    objects it redefines while older objects stay reachable."""
    b = dt.encode_minimal_pdf(["Original text"], title="T0")
    # find object 6's (the content stream) byte range and append a
    # replacement revision redefining it
    new_content = b"BT /F1 12 Tf 72 720 Td (Patched text) Tj ET"
    enc = zlib.compress(new_content)
    appended = bytearray(b)
    start = len(appended)
    appended += (
        f"6 0 obj\n<< /Filter /FlateDecode /Length {len(enc)} >>"
        f"\nstream\n".encode() + enc + b"\nendstream\nendobj\n"
    )
    old_xref = int(re.search(rb"startxref\s+(\d+)", b).group(1))
    xref_off = len(appended)
    appended += (
        f"xref\n6 1\n{start:010d} 00000 n \ntrailer\n"
        f"<< /Size 7 /Root 1 0 R /Info 4 0 R /Prev {old_xref} >>\n"
        f"startxref\n{xref_off}\n%%EOF\n".encode()
    )
    m = dt.extract_pdf_text(bytes(appended))
    assert m["text"] == "Patched text"
    assert m["title"] == "T0"  # via the /Prev chain


# ---------------------------------------------------------------------------
# PDF — filters and string grammar


@pytest.mark.parametrize(
    "flt", ["FlateDecode", "LZWDecode", "ASCIIHexDecode", "none"]
)
def test_pdf_content_filters(flt):
    text = "Filter test (parens) \\ backslash"
    b = dt.encode_minimal_pdf([text], content_filter=flt)
    assert dt.extract_pdf_text(b)["text"] == text


def test_pdf_literal_string_escapes():
    # exercise octal, named escapes, nested parens, line continuation
    raw = rb"(\101\102 \n nested (deep) \t end\
)"
    lex = dt._Lexer(raw, 0)
    assert lex.next_token() == b"AB \n nested (deep) \t end"


def test_pdf_hex_string_and_name_escapes():
    lex = dt._Lexer(b"<48 65 6C6C 6F>", 0)
    assert lex.next_token() == b"Hello"
    lex = dt._Lexer(b"/A#20B", 0)
    assert lex.next_token() == "A B"


def test_pdf_tj_array_and_line_ops():
    content = (
        b"BT [(One) -250 (Two)] TJ T* (Three) Tj 0 -14 Td (Four) Tj ET"
    )
    assert dt._content_text(content) == "OneTwo\nThree\nFour"


def test_pdf_utf16_info_string():
    # swap the /Title literal for a SAME-LENGTH UTF-16BE hex string
    # (classic xref offsets must not shift)
    b = dt.encode_minimal_pdf(["x"], title="X" * 28)
    hex_title = b"<FEFF005400690074007200650073>"
    assert len(hex_title) == len(b"(" + b"X" * 28 + b")")
    b = b.replace(b"(" + b"X" * 28 + b")", hex_title)
    assert dt.extract_pdf_text(b)["title"] == "Titres"


def test_pdf_encrypted_is_a_named_boundary():
    b = dt.encode_minimal_pdf(["x"])
    b = b.replace(b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 3 0 R")
    with pytest.raises(NotImplementedError, match="encrypted"):
        dt.extract_pdf_text(b)


def test_pdf_malformed_envelope():
    with pytest.raises(ValueError):
        dt.extract_pdf_text(b"%PDF-1.4 then nothing")
    good = dt.encode_minimal_pdf(["x"])
    with pytest.raises(ValueError):
        dt.extract_pdf_text(good[: len(good) // 2])


# ---------------------------------------------------------------------------
# DOCX


def test_docx_roundtrip_and_metadata():
    b = dt.encode_minimal_docx(
        ["Para one", "Para two & <xml>"], title="DT", author="DA"
    )
    m = dt.extract_docx_text(b)
    assert m["text"] == "Para one\nPara two & <xml>"
    assert (m["title"], m["author"]) == ("DT", "DA")


def test_zip_fixtures_do_not_depend_on_the_clock(monkeypatch):
    """A DOCX or EPUB encoded a day later has the same bytes: no zip
    entry carries the wall-clock time."""
    import time

    out = []
    for now in (1_700_000_000.0, 1_700_086_400.0):
        monkeypatch.setattr(time, "time", lambda now=now: now)
        out.append((
            dt.encode_minimal_docx(["Para"], title="DT", author="DA"),
            dt.encode_minimal_epub(["Chapter"], title="ET"),
        ))
    assert out[0] == out[1]


def test_docx_tabs_and_breaks():
    import io
    import zipfile

    src = zipfile.ZipFile(io.BytesIO(dt.encode_minimal_docx(["AB"])))
    doc = src.read("word/document.xml").replace(
        b"<w:t>AB</w:t>", b"<w:t>A</w:t><w:tab/><w:br/><w:t>B</w:t>"
    )
    out = io.BytesIO()
    with zipfile.ZipFile(out, "w") as zf:
        for item in src.infolist():
            zf.writestr(
                item.filename,
                doc if item.filename == "word/document.xml"
                else src.read(item.filename),
            )
    m = dt.extract_docx_text(out.getvalue())
    assert m["text"] == "A\t\nB"


def test_docx_malformed_envelope():
    with pytest.raises(ValueError, match="zip"):
        dt.extract_docx_text(b"PK\x03\x04 not a zip")
    import io
    import zipfile

    out = io.BytesIO()
    with zipfile.ZipFile(out, "w") as zf:
        zf.writestr("other.txt", "hi")
    with pytest.raises(ValueError, match="document.xml"):
        dt.extract_docx_text(out.getvalue())


# ---------------------------------------------------------------------------
# Gate fixture ↔ oracle equality + Spark surface


def test_gate_fixture_text_matches_analytic_formula():
    for d in (0, 1, 2, 3, 17, 38, 103, 1001):
        r = d % 4
        if r in (0, 1):
            n_pages = 1 + d % 3
            expect = "\f".join(
                f"Doc {d} page {p} alpha {(d * 13 + p) % 997}"
                for p in range(n_pages)
            )
            payload = dt.encode_minimal_pdf(
                [
                    f"Doc {d} page {p} alpha {(d * 13 + p) % 997}"
                    for p in range(n_pages)
                ],
                title=f"T{d % 100}", author=f"A{d % 10}",
                xref_stream=(r == 1), objstm=(r == 1),
            )
        elif r == 2:
            n_paras = 1 + d % 4
            expect = "\n".join(
                f"Doc {d} para {p} beta {(d * 17 + p) % 997}"
                for p in range(n_paras)
            )
            payload = dt.encode_minimal_docx(
                [
                    f"Doc {d} para {p} beta {(d * 17 + p) % 997}"
                    for p in range(n_paras)
                ],
                title=f"T{d % 100}", author=f"A{d % 10}",
            )
        else:
            n_chaps = 1 + d % 2
            expect = "\f".join(
                f"Doc {d} chap {p} delta {(d * 23 + p) % 997}"
                for p in range(n_chaps)
            )
            payload = dt.encode_minimal_epub(
                [
                    f"Doc {d} chap {p} delta {(d * 23 + p) % 997}"
                    for p in range(n_chaps)
                ],
                title=f"T{d % 100}", author=f"A{d % 10}",
            )
        m = dt.extract_document_text(payload)
        assert m["text"] == expect, (d, m["text"], expect)
        assert m["title"] == f"T{d % 100}"


def test_spark_fixture_and_features(spark):
    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id bigint")
    rows = (
        dt.extract_document_features(dt.synthesize_document_docs(docs))
        .orderBy("doc_id")
        .collect()
    )
    assert len(rows) == 8
    for r in rows:
        assert r.parse_ok
        expected = ("pdf", "pdf", "docx", "epub")[r.doc_id % 4]
        assert r.fmt == expected
        if expected == "pdf":
            assert r.n_pages == 1 + r.doc_id % 3
        elif expected == "epub":
            assert r.n_pages == 1 + r.doc_id % 2
        assert r.title == f"T{r.doc_id % 100}"


# ---------------------------------------------------------------------------
# EPUB


def test_epub_roundtrip_spine_order_and_metadata():
    b = dt.encode_minimal_epub(
        ["Chapter one", "Chapter two"], title="Book", author="BA"
    )
    m = dt.extract_document_text(b)
    assert m["fmt"] == "epub" and m["n_pages"] == 2
    assert m["text"] == "Chapter one\fChapter two"
    assert (m["title"], m["author"]) == ("Book", "BA")


def test_epub_spine_order_overrides_zip_order():
    """Chapters must come out in SPINE order even when the OPF spine
    reverses the manifest/zip order — reading order is the contract."""
    import io
    import zipfile

    b = dt.encode_minimal_epub(["First", "Second"])
    src = zipfile.ZipFile(io.BytesIO(b))
    opf = src.read("OEBPS/content.opf").replace(
        b'<itemref idref="c0"/><itemref idref="c1"/>',
        b'<itemref idref="c1"/><itemref idref="c0"/>',
    )
    out = io.BytesIO()
    with zipfile.ZipFile(out, "w") as zf:
        for item in src.infolist():
            zf.writestr(
                item.filename,
                opf if item.filename == "OEBPS/content.opf"
                else src.read(item.filename),
            )
    m = dt.extract_epub_text(out.getvalue())
    assert m["text"] == "Second\fFirst"


def test_epub_malformed_envelope():
    import io
    import zipfile

    out = io.BytesIO()
    with zipfile.ZipFile(out, "w") as zf:
        zf.writestr("META-INF/container.xml", "<broken")
    with pytest.raises(ValueError):
        dt.extract_epub_text(out.getvalue())
    # spine referencing a missing manifest id
    b = dt.encode_minimal_epub(["x"])
    src = zipfile.ZipFile(io.BytesIO(b))
    opf = src.read("OEBPS/content.opf").replace(b'idref="c0"', b'idref="zz"')
    out = io.BytesIO()
    with zipfile.ZipFile(out, "w") as zf:
        for item in src.infolist():
            zf.writestr(
                item.filename,
                opf if item.filename == "OEBPS/content.opf"
                else src.read(item.filename),
            )
    with pytest.raises(ValueError, match="manifest"):
        dt.extract_epub_text(out.getvalue())


def test_encode_minimal_pdf_objstm_requires_xref_stream():
    """ADVICE r9: objstm without xref_stream used to KeyError deep in
    the classic-table writer; the combination is unrepresentable
    (classic tables have no type-2 entries) and must fail loudly."""
    import pytest

    with pytest.raises(ValueError, match="objstm.*xref_stream"):
        dt.encode_minimal_pdf(["page"], objstm=True, xref_stream=False)
