"""PDF layout kernel vs the writer's layout spec.

The seeded writer places text runs with absolute x/y boxes (multi-column on
~25% of pages); the extractor must reconstruct reading order, headings (from
the font-size histogram), lists, and paragraph re-wrapping byte-exactly.
"""

from __future__ import annotations

import random

import pytest

from markmuse_spark.kernel import pdf_extract
from markmuse_spark.sources import docmodel, pdf_writer


def _roundtrip(seed: int, lang: str = "en"):
    rng = random.Random(seed)
    pages = docmodel.random_pdf_pages(rng, lang)
    pdf = pdf_writer.write_pdf(pages)
    got = pdf_extract.extract_pages(pdf)
    want = [pdf_writer.expected_pdf_page_markdown(p) for p in pages]
    return want, got, pdf


@pytest.mark.parametrize("lang", sorted(docmodel._WORDS_BY_LANG))
def test_roundtrip_languages(lang):
    for seed in range(10):
        want, got, pdf = _roundtrip(2000 + seed, lang)
        assert len(got) == len(want), (lang, seed)
        for i, w in enumerate(want):
            assert got[i]["markdown"] == w, (lang, seed, i)
            assert got[i]["images"] == []


def test_roundtrip_corpus():
    for seed in range(150):
        want, got, _ = _roundtrip(seed)
        assert [p["markdown"] for p in got] == want, seed


def test_structural_validity():
    rng = random.Random(1)
    pdf = pdf_writer.write_pdf(docmodel.random_pdf_pages(rng, "en"))
    assert pdf.startswith(b"%PDF-1.4")
    assert pdf.rstrip().endswith(b"%%EOF")
    assert b"xref" in pdf and b"trailer" in pdf
    assert pdf.count(b"stream") >= 2  # stream + endstream per page


def test_two_column_reading_order():
    pages = [
        {
            "columns": 2,
            "blocks": [
                {"t": "h", "level": 1, "text": "Left Head"},
                {"t": "p", "spans": [("", "left column body text here")]},
                {"t": "h", "level": 2, "text": "Right Head"},
                {"t": "p", "spans": [("", "right column body text here")]},
            ],
        }
    ]
    pdf = pdf_writer.write_pdf(pages)
    got = pdf_extract.extract_pages(pdf)[0]["markdown"]
    assert got == (
        "# Left Head\n\nleft column body text here\n\n"
        "## Right Head\n\nright column body text here"
    )


def test_heading_levels_by_font_ratio():
    pages = [
        {
            "columns": 1,
            "blocks": [
                {"t": "h", "level": 1, "text": "One"},
                {"t": "p", "spans": [("", "body a")]},
                {"t": "h", "level": 2, "text": "Two"},
                {"t": "p", "spans": [("", "body b")]},
                {"t": "h", "level": 3, "text": "Three"},
                {"t": "p", "spans": [("", "body c")]},
            ],
        }
    ]
    got = pdf_extract.extract_pages(pdf_writer.write_pdf(pages))[0]["markdown"]
    assert got == "# One\n\nbody a\n\n## Two\n\nbody b\n\n### Three\n\nbody c"


def test_list_markers_preserved():
    pages = [
        {
            "columns": 1,
            "blocks": [
                {"t": "ul", "items": ["alpha", "beta"]},
                {"t": "ol", "items": ["first", "second", "third"]},
            ],
        }
    ]
    got = pdf_extract.extract_pages(pdf_writer.write_pdf(pages))[0]["markdown"]
    assert got == "- alpha\n- beta\n\n1. first\n2. second\n3. third"


def test_paragraph_rewrap():
    long = "word " * 60
    pages = [{"columns": 1, "blocks": [{"t": "p", "spans": [("", long)]}]}]
    got = pdf_extract.extract_pages(pdf_writer.write_pdf(pages))[0]["markdown"]
    assert got == long.strip()


def test_escaped_parens_and_backslash():
    pages = [
        {
            "columns": 1,
            "blocks": [
                {"t": "p", "spans": [("", r"f(x) = y \ (z) end")]},
            ],
        }
    ]
    got = pdf_extract.extract_pages(pdf_writer.write_pdf(pages))[0]["markdown"]
    assert got == r"f(x) = y \ (z) end"


def test_bad_payloads():
    with pytest.raises(ValueError):
        pdf_extract.extract_pages(b"")
    with pytest.raises(ValueError):
        pdf_extract.extract_pages(b"not a pdf")
    with pytest.raises(ValueError):
        pdf_extract.extract_pages(b"%PDF-1.4\nno streams here")


def test_stream_body_containing_stream_header_is_not_rescanned():
    """A /Length-delimited stream whose BODY contains '<<...>>stream\\n'
    bytes (the round-2 review scenario: Flate-compressed data can contain
    anything) must yield exactly ONE page — the scanner advances past the
    consumed endstream instead of re-matching inside the body, so no
    phantom page and no page-index shift."""
    decoy = b"<</Length 4>>stream\n\x00\x01\x02\x03endstream"
    body = (
        b"/F1 12 Tf 1 0 0 1 72 720 Tm (Real) Tj\n" + decoy + b"\n"
    )
    payload = (
        b"%PDF-1.4\n1 0 obj<</Length "
        + str(len(body)).encode()
        + b">>stream\n"
        + body
        + b"\nendstream\nendobj\ntrailer\n%%EOF"
    )
    # the decoy bytes are inside the outer stream's body: exactly one
    # content stream (and so one page) must come back — the old finditer
    # scan ALSO matched the decoy header and minted a phantom page
    pages = pdf_extract.extract_pages(payload)
    assert len(pages) == 1
    assert "Real" in pages[0]["markdown"]


def test_unterminated_decoy_header_after_real_stream():
    """A stray '<<...>>stream' header AFTER a consumed stream with no
    endstream must be skipped without consuming the document."""
    body = b"/F1 12 Tf 1 0 0 1 72 720 Tm (Only) Tj\n"
    payload = (
        b"%PDF-1.4\n1 0 obj<</Length "
        + str(len(body)).encode()
        + b">>stream\n"
        + body
        + b"\nendstream\nendobj\n<</Fake 1>>stream\nno terminator here"
    )
    pages = pdf_extract.extract_pages(payload)
    assert len(pages) == 1
    assert "Only" in pages[0]["markdown"]


def test_hex16_unicode_strings_roundtrip():
    """hex16 pages emit BOM-prefixed UTF-16BE hex strings (spec 7.9.2.2);
    the extractor must decode them byte-identically — including CJK text
    that UTF-8 hex (corpus v3) also covered, now in the Unicode form."""
    page = {
        "columns": 1,
        "hex16": True,
        "blocks": [
            {"t": "h", "level": 1, "text": "数据 管道 标题"},
            {"t": "p", "spans": [("", "mixed ascii and 中文 text here")]},
        ],
    }
    pdf = pdf_writer.write_pdf([page])
    assert b"FEFF" in pdf  # the BOM is visibly in the hex payload
    got = pdf_extract.extract_pages(pdf)
    assert got[0]["markdown"] == pdf_writer.expected_pdf_page_markdown(page)
    assert "中文" in got[0]["markdown"]


def test_hex16_with_tj_kerning():
    """hex16 composes with kerned TJ arrays: per-word BOM'd hex pieces,
    word spaces recovered from the -250 adjustments."""
    page = {
        "columns": 1,
        "hex16": True,
        "tj": True,
        "compress": True,
        "blocks": [{"t": "p", "spans": [("", "alpha beta gamma delta")]}],
    }
    got = pdf_extract.extract_pages(pdf_writer.write_pdf([page]))
    assert got[0]["markdown"] == "alpha beta gamma delta"


def test_cid_subset_font_roundtrip():
    """Type0/Identity-H SUBSET font (corpus v5): strings are 2-byte CIDs
    assigned by charset index — meaningless without the document's
    ToUnicode CMap, which the extractor must find through the font
    object's /ToUnicode ref and parse."""
    page = {
        "columns": 1,
        "cid": True,
        "blocks": [
            {"t": "h", "level": 1, "text": "Subset Title 标题"},
            {"t": "p", "spans": [("", "body text with unicode: naïve 中文")]},
            {"t": "ul", "items": ["alpha", "beta"]},
        ],
    }
    pdf = pdf_writer.write_pdf([page])
    assert b"/Identity-H" in pdf and b"beginbfchar" in pdf
    # the text's UTF-16BE code units appear exactly once — inside the
    # CMap's bfchar table — never in the content stream (that would be
    # identity encoding, not a subset mapping)
    assert pdf.count("标".encode("utf-16-be").hex().upper().encode()) == 1
    got = pdf_extract.extract_pages(pdf)
    assert got[0]["markdown"] == pdf_writer.expected_pdf_page_markdown(page)
    assert "中文" in got[0]["markdown"]


def test_cid_with_tj_kerning_and_compression():
    """CID strings compose with kerned TJ arrays and FlateDecode: word
    spaces come from the -250 adjustments (the space char is never in the
    stream), CIDs still resolve through the CMap."""
    page = {
        "columns": 1,
        "cid": True,
        "tj": True,
        "compress": True,
        "blocks": [{"t": "p", "spans": [("", "alpha beta gamma delta")]}],
    }
    got = pdf_extract.extract_pages(pdf_writer.write_pdf([page]))
    assert got[0]["markdown"] == "alpha beta gamma delta"


def test_mixed_plain_and_cid_pages():
    """A document mixing an /F1 literal-string page with an /F2 CID page:
    the per-page font tables must not leak across pages."""
    pages = [
        {"columns": 1, "blocks": [{"t": "p", "spans": [("", "plain page one")]}]},
        {
            "columns": 1,
            "cid": True,
            "blocks": [{"t": "p", "spans": [("", "cid page two")]}],
        },
    ]
    got = pdf_extract.extract_pages(pdf_writer.write_pdf(pages))
    assert [p["markdown"] for p in got] == ["plain page one", "cid page two"]


def test_metadata_stream_is_not_a_phantom_page():
    """An XMP /Metadata stream (corpus v5) is a NON-content stream: page
    count and indices must be unaffected — the pre-v5 every-stream-is-a-
    page scan would have minted an empty phantom page from it."""
    pages = [
        {"columns": 1, "blocks": [{"t": "p", "spans": [("", "only page")]}]},
    ]
    pdf = pdf_writer.write_pdf(pages, metadata=True)
    assert b"/Type /Metadata" in pdf and b"xmpmeta" in pdf
    got = pdf_extract.extract_pages(pdf)
    assert len(got) == 1
    assert got[0]["markdown"] == "only page"
    assert got[0]["page_idx"] == 0


def test_cid_cmap_with_metadata_and_multipage():
    """Everything at once: 3 pages (plain + cid + cid-tj-compressed),
    metadata stream, CMap stream — page order by /Kids, no phantom pages,
    every page byte-right."""
    pages = [
        {"columns": 1, "blocks": [
            {"t": "h", "level": 1, "text": "One"},
            {"t": "p", "spans": [("", "intro body")]},
        ]},
        {"columns": 1, "cid": True,
         "blocks": [{"t": "p", "spans": [("", "zwei drei vier")]}]},
        {"columns": 1, "cid": True, "tj": True, "compress": True,
         "blocks": [{"t": "p", "spans": [("", "fünf sechs sieben acht")]}]},
    ]
    pdf = pdf_writer.write_pdf(pages, metadata=True)
    got = pdf_extract.extract_pages(pdf)
    assert [p["markdown"] for p in got] == [
        pdf_writer.expected_pdf_page_markdown(p) for p in pages
    ]


def test_multilevel_page_tree_kids_order():
    """A two-level page tree whose INTERMEDIATE /Pages node precedes the
    root in the file: the /Kids walk must start from the catalog's root
    and recurse — trusting the first /Kids array by file position
    silently dropped every page outside that node."""
    c1 = b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (page one) Tj ET"
    c2 = b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (page two) Tj ET"
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        # intermediate node 3 serialized BEFORE root 2 references it
        3: b"<< /Type /Pages /Kids [4 0 R] /Count 1 /Parent 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R 6 0 R] /Count 2 >>",
        4: b"<< /Type /Page /Parent 3 0 R /Contents 5 0 R >>",
        5: b"<< /Length %d >>\nstream\n%b\nendstream" % (len(c1), c1),
        6: b"<< /Type /Page /Parent 2 0 R /Contents 7 0 R >>",
        7: b"<< /Length %d >>\nstream\n%b\nendstream" % (len(c2), c2),
    }
    body = b"%PDF-1.4\n" + b"".join(
        b"%d 0 obj\n%b\nendobj\n" % (oid, objs[oid]) for oid in [1, 3, 2, 4, 5, 6, 7]
    ) + b"trailer\n%%EOF"
    got = pdf_extract.extract_pages(body)
    assert [p["markdown"] for p in got] == ["page one", "page two"]


def test_blank_separator_page_keeps_indices():
    """A page object with NO /Contents (a blank separator) must stay in
    the page list as an empty page so later pages keep their indices."""
    c2 = b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (after blank) Tj ET"
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 >>",
        3: b"<< /Type /Page /Parent 2 0 R >>",  # blank: no /Contents
        4: b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>",
        5: b"<< /Length %d >>\nstream\n%b\nendstream" % (len(c2), c2),
    }
    body = b"%PDF-1.4\n" + b"".join(
        b"%d 0 obj\n%b\nendobj\n" % (oid, obj) for oid, obj in objs.items()
    ) + b"trailer\n%%EOF"
    got = pdf_extract.extract_pages(body)
    assert len(got) == 2
    assert got[0]["markdown"] == "" and got[0]["page_idx"] == 0
    assert got[1]["markdown"] == "after blank" and got[1]["page_idx"] == 1


def test_bfrange_astral_and_array_targets():
    """bfrange targets per spec 9.10.3: an astral base expressed as a
    surrogate pair steps through the astral plane; the array form maps
    one destination per CID (ligatures); a step into the surrogate range
    renders U+FFFD instead of raising or leaking a lone surrogate."""
    cmap = (
        "2 beginbfrange\n"
        "<0001> <0003> <D83DDE00>\n"   # emoji 😀 😁 😂
        "<0010> <0011> [<0066> <00660069>]\n"  # 'f', 'fi'
        "endbfrange\n"
        "1 beginbfrange\n<0020> <0021> <D7FF>\nendbfrange\n"
    )
    table = pdf_extract._parse_tounicode(cmap)
    assert table[1] == "\U0001F600" and table[3] == "\U0001F602"
    assert table[0x10] == "f" and table[0x11] == "fi"
    assert table[0x20] == "퟿".encode("utf-16-be").decode("utf-16-be")
    assert table[0x21] == "�"  # D7FF+1 = D800: surrogate -> FFFD
    # everything placed in a page must survive utf-8 encoding
    for v in table.values():
        v.encode("utf-8")


def test_incremental_update_last_catalog_wins():
    """An incrementally-updated PDF appends a NEWER catalog whose page
    tree supersedes the original's — the walk must start from the last
    catalog in the file, not the first."""
    c1 = b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (old tree) Tj ET"
    c2 = b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (new tree) Tj ET"
    parts = [b"%PDF-1.4\n"]
    objs = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"),
        (4, b"<< /Length %d >>\nstream\n%b\nendstream" % (len(c1), c1)),
        # --- appended incremental update: new catalog + new tree ---
        (5, b"<< /Type /Catalog /Pages 6 0 R >>"),
        (6, b"<< /Type /Pages /Kids [7 0 R] /Count 1 >>"),
        (7, b"<< /Type /Page /Parent 6 0 R /Contents 8 0 R >>"),
        (8, b"<< /Length %d >>\nstream\n%b\nendstream" % (len(c2), c2)),
    ]
    for oid, obj in objs:
        parts.append(b"%d 0 obj\n%b\nendobj\n" % (oid, obj))
    parts.append(b"trailer\n%%EOF")
    got = pdf_extract.extract_pages(b"".join(parts))
    assert [p["markdown"] for p in got] == ["new tree"]


def test_incremental_update_reemits_same_object_ids():
    """Real incremental updates re-emit objects under the SAME object
    number (spec 7.5.6): the appended definitions of the page tree, page
    and content stream must supersede the originals — first-definition
    resolution would extract the stale text, and the superseded
    definition's stream must not survive as the page's content."""
    c_old = b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (stale text) Tj ET"
    c_new = b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (updated text) Tj ET"
    objs = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"),
        (4, b"<< /Length %d >>\nstream\n%b\nendstream" % (len(c_old), c_old)),
        # --- incremental update: objects 3 and 4 re-emitted in place ---
        (3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"),
        (4, b"<< /Length %d >>\nstream\n%b\nendstream" % (len(c_new), c_new)),
    ]
    body = b"%PDF-1.4\n" + b"".join(
        b"%d 0 obj\n%b\nendobj\n" % (oid, obj) for oid, obj in objs
    ) + b"trailer\n%%EOF"
    got = pdf_extract.extract_pages(body)
    assert [p["markdown"] for p in got] == ["updated text"]


def test_deep_kids_chain_is_iterative_and_falls_back():
    """A /Kids chain deeper than the 4096-node cap: the iterative walk
    must terminate via the cap (a recursive walk dies at CPython's
    ~1000-frame limit first), and the TRUNCATED walk must not be trusted
    — file-order pages stand in, so the deep page's text survives
    instead of being silently dropped."""
    depth = 5000
    content = b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (deep page) Tj ET"
    parts = [b"%PDF-1.4\n", b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"]
    for i in range(depth):  # node (2+i) -> kid (3+i)
        parts.append(
            b"%d 0 obj\n<< /Type /Pages /Kids [%d 0 R] /Count 1 >>\nendobj\n"
            % (2 + i, 3 + i)
        )
    page_id, content_id = 2 + depth, 3 + depth
    parts.append(
        b"%d 0 obj\n<< /Type /Page /Parent %d 0 R /Contents %d 0 R >>\nendobj\n"
        % (page_id, 1 + depth, content_id)
    )
    parts.append(
        b"%d 0 obj\n<< /Length %d >>\nstream\n%b\nendstream\nendobj\n"
        % (content_id, len(content), content)
    )
    parts.append(b"trailer\n%%EOF")
    got = pdf_extract.extract_pages(b"".join(parts))
    assert [p["markdown"] for p in got] == ["deep page"]


def test_truncated_walk_reports_truncation():
    """The walk itself must report cap-termination so callers can refuse
    a partial order (unit form of the fallback contract above)."""
    bodies = {1: b"<< /Type /Catalog /Pages 2 0 R >>"}
    for i in range(2, 4200):
        bodies[i] = b"<< /Type /Pages /Kids [%d 0 R] /Count 1 >>" % (i + 1)
    bodies[4200] = b"<< /Type /Page >>"
    walk, from_catalog, truncated = pdf_extract._walk_page_tree(
        bodies, {4200}
    )
    assert from_catalog and truncated and walk == []


def test_xref_stream_file_extracts_identically():
    """Corpus v6: the same page models written with a PDF 1.5
    cross-reference stream must extract byte-identically to the classic
    xref-table form, across the whole dialect (compression, TJ, hex16,
    CID subset fonts, metadata decoys)."""
    for seed in range(12):
        rng = random.Random(seed)
        pages = docmodel.random_pdf_pages(rng, "en")
        classic = pdf_writer.write_pdf(pages, metadata=seed % 3 == 0)
        modern = pdf_writer.write_pdf(
            pages, metadata=seed % 3 == 0, xref_stream=True
        )
        assert classic != modern and modern.startswith(b"%PDF-1.5")
        got_c = pdf_extract.extract_pages(classic)
        got_m = pdf_extract.extract_pages(modern)
        assert got_m == got_c
        assert [p["markdown"] for p in got_m] == [
            pdf_writer.expected_pdf_page_markdown(p) for p in pages
        ]


def _root_of(payload: bytes):
    """Production calling convention: blanked bytes + raw stream list."""
    scanned = pdf_extract._scan_streams(payload)
    blanked, _ = pdf_extract._blanked_objects(payload, scanned)
    return pdf_extract._trailer_root(blanked, scanned)


def test_trailer_root_both_forms():
    """/Root resolves through the classic trailer dict AND through the
    xref stream's dict (spec 7.5.8); a trailerless body returns None."""
    pages = [{"columns": 1, "blocks": [{"t": "p", "text": "hello world"}]}]
    classic = pdf_writer.write_pdf(pages)
    modern = pdf_writer.write_pdf(pages, xref_stream=True)
    assert _root_of(classic) == 1
    assert _root_of(modern) == 1
    assert _root_of(b"%PDF-1.4\nno trailer here") is None


def test_trailer_root_ignores_tokens_inside_stream_bodies():
    """A compressed stream body containing fake 'startxref N' bytes must
    not hijack the root: the scan runs over the stream-blanked view (the
    same invariant every other token scan in the kernel holds)."""
    decoy = b"garbage startxref 1 more %%EOF"
    stream_obj = b"4 0 obj\n<< /Length %d >>\nstream\n%b\nendstream\nendobj\n" % (
        len(decoy),
        decoy,
    )
    body = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        + stream_obj
    )
    # no real trailer: the decoy startxref is the only candidate, and it
    # must be invisible because it sits inside a stream body
    assert _root_of(body + b"%%EOF") is None
    got = pdf_extract.extract_pages(body + b"%%EOF")
    assert len(got) == 1  # body-scan fallback still roots the page tree


def test_trailer_root_distrusts_lying_xref_entries():
    """An xref STREAM whose decoded entry table contradicts its own /Root
    claim (no in-use entry at the recorded offset) is distrusted: the
    hint returns None and the body scan takes over."""
    pages = [{"columns": 1, "blocks": [{"t": "p", "text": "check me"}]}]
    pdf = bytearray(pdf_writer.write_pdf(pages, xref_stream=True))
    # corrupt the root's recorded offset inside the compressed entry
    # table: re-encode the table with object 1's offset pointing at 0
    import re as _re
    import zlib as _z

    scanned = pdf_extract._scan_streams(bytes(pdf))
    xref = next(s for s in scanned if pdf_extract._TYPE_XREF_RE.search(s[1]))
    rows = bytearray(_z.decompress(xref[2]))
    rows[7 * 1 + 1 : 7 * 1 + 5] = (0).to_bytes(4, "big")  # obj 1 -> offset 0
    bad = _z.compress(bytes(rows), 6)
    start, end = xref[3]
    new = bytes(pdf[:start]) + bad + bytes(pdf[end:])
    new = _re.sub(
        rb"/Length %d" % len(xref[2]), rb"/Length %d" % len(bad), new
    )
    assert _root_of(new) is None
    # extraction still succeeds via the catalog body scan
    got = pdf_extract.extract_pages(new)
    assert [p["markdown"] for p in got] == [
        pdf_writer.expected_pdf_page_markdown(p) for p in pages
    ]


def test_parse_xref_stream_malformed_index_returns_empty():
    head = b"/Type /XRef /W [1 4 2] /Index [5 x] /Size 7"
    assert pdf_extract._parse_xref_stream(head, b"\x01\x00\x00\x00\x10\x00\x00") == {}


def test_parse_xref_stream_entries_match_object_offsets():
    """The decoded type-1 entries must point at the actual byte offsets
    of each 'N 0 obj' header in the file — genuine W-width big-endian
    decoding, not just a /Root grab."""
    import re as _re

    pages = [{"columns": 1, "blocks": [{"t": "p", "text": "offsets check"}]}]
    pdf = pdf_writer.write_pdf(pages, xref_stream=True)
    scanned = pdf_extract._scan_streams(pdf)
    xref = next(s for s in scanned if pdf_extract._TYPE_XREF_RE.search(s[1]))
    entries = pdf_extract._parse_xref_stream(xref[1], xref[2])
    real = {
        int(m.group(1)): m.start()
        for m in _re.finditer(rb"(\d+) 0 obj\b", pdf)
    }
    assert entries[0][0] == 0  # free-list head
    for oid, off in real.items():
        typ, off_got, gen = entries[oid]
        assert (typ, off_got, gen) == (1, off, 0), (oid, entries[oid])
    # every real object plus the xref stream itself is indexed
    assert set(entries) == {0, *real}


def test_parse_xref_stream_zero_width_type_defaults_to_one():
    head = b"/Type /XRef /W [0 2 1] /Index [5 2] /Size 7"
    data = bytes([0, 16, 0]) + bytes([0, 32, 0])
    entries = pdf_extract._parse_xref_stream(head, data)
    assert entries == {5: (1, 16, 0), 6: (1, 32, 0)}


def test_damaged_xref_stream_file_has_no_phantom_page():
    """A truncated v6 file that loses its page graph falls back to
    every-stream-is-a-page — but the xref stream's binary entries must
    never become a phantom page."""
    pages = [{"columns": 1, "blocks": [{"t": "p", "text": "real content"}]}]
    pdf = pdf_writer.write_pdf(pages, xref_stream=True)
    # sever the page graph: break every /Type /Page marker so no page
    # objects parse and the fallback path runs
    damaged = pdf.replace(b"/Type /Page ", b"/Typ0 /Page ")
    got = pdf_extract.extract_pages(damaged)
    assert len(got) == 1
    assert "real content" in got[0]["markdown"]


def test_objstm_file_extracts_identically():
    """Corpus v7: the same page models with the entire page tree packed
    into a /ObjStm object stream must extract byte-identically — and the
    packed form must genuinely have NO top-level page objects (the
    property that forces the unpack path)."""
    for seed in range(10):
        rng = random.Random(seed)
        pages = docmodel.random_pdf_pages(rng, "en")
        classic = pdf_writer.write_pdf(pages, metadata=seed % 2 == 0)
        packed = pdf_writer.write_pdf(
            pages, metadata=seed % 2 == 0, object_streams=True
        )
        got = pdf_extract.extract_pages(packed)
        assert got == pdf_extract.extract_pages(classic)
        assert [p["markdown"] for p in got] == [
            pdf_writer.expected_pdf_page_markdown(p) for p in pages
        ]
        scanned = pdf_extract._scan_streams(packed)
        blanked, bounds = pdf_extract._blanked_objects(packed, scanned)
        assert not any(
            pdf_extract._TYPE_PAGE_RE.search(blanked[b1:b2])
            for _oid, b1, b2 in bounds
        ), "page object leaked to top level: the test would prove nothing"


def _mk_objstm(oid: int, objs: list) -> bytes:
    """One /ObjStm object: spec 7.5.7 integer-pair header + packed bodies."""
    import zlib as _z

    hdr, bodies_b, off = [], [], 0
    for o, b in objs:
        hdr.append(b"%d %d" % (o, off))
        bodies_b.append(b + b"\n")
        off += len(b) + 1
    stm_hdr = b" ".join(hdr) + b"\n"
    stm = _z.compress(stm_hdr + b"".join(bodies_b), 6)
    return (
        b"%d 0 obj\n<< /Type /ObjStm /N %d /First %d /Filter /FlateDecode "
        b"/Length %d >>\nstream\n%b\nendstream\nendobj\n"
        % (oid, len(objs), len(stm_hdr), len(stm), stm)
    )


def test_objstm_update_supersedes_packed_definition():
    """Last-definition-wins must hold ACROSS sources: a top-level object
    appended after the ObjStm (an incremental update) supersedes the
    packed definition of the same id."""
    c_old = b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (packed text) Tj ET"
    c_new = b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (updated text) Tj ET"
    # ObjStm packs catalog(1), pages(2), page(3) pointing at stream 4
    base = (
        b"%PDF-1.5\n"
        + b"4 0 obj\n<< /Length %d >>\nstream\n%b\nendstream\nendobj\n"
        % (len(c_old), c_old)
        + _mk_objstm(
            5,
            [
                (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
                (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
                (3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"),
            ],
        )
    )
    assert [p["markdown"] for p in pdf_extract.extract_pages(base + b"%%EOF")] == [
        "packed text"
    ]
    # incremental update: re-emit page 3 + content 4 TOP-LEVEL after it
    upd = (
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length %d >>\nstream\n%b\nendstream\nendobj\n"
        % (len(c_new), c_new)
    )
    got = pdf_extract.extract_pages(base + upd + b"%%EOF")
    assert [p["markdown"] for p in got] == ["updated text"]


def test_objstm_never_a_phantom_page():
    """A damaged v7 file falling back to every-stream-is-a-page must not
    mint a page from the ObjStm's packed dictionaries.  The damage
    corrupts the ObjStm's COMPRESSED BODY (the page dicts live inside
    it, so no plain-text edit can reach them): the graph then fails to
    parse and the fallback path runs — where the ObjStm and XRef streams
    must both be excluded."""
    pages = [{"columns": 1, "blocks": [{"t": "p", "text": "real v7 content"}]}]
    pdf = pdf_writer.write_pdf(pages, object_streams=True)
    scanned = pdf_extract._scan_streams(pdf)
    objstm = next(
        s for s in scanned if pdf_extract._TYPE_OBJSTM_RE.search(s[1])
    )
    start, end = objstm[3]
    damaged = pdf[:start] + b"\x00" * (end - start) + pdf[end:]
    # the corrupted ObjStm kills the page graph entirely...
    assert pdf_extract._page_graph(
        damaged, pdf_extract._scan_streams(damaged)
    ) is None
    got = pdf_extract.extract_pages(damaged)
    # ...and the fallback yields exactly the content stream's page:
    # neither the zeroed ObjStm nor the xref stream becomes a page
    assert len(got) == 1
    assert "real v7 content" in got[0]["markdown"]


def test_objstm_packed_redefinition_disowns_stale_stream():
    """An appended update ObjStm that redefines a stream-bearing id with
    a packed NON-stream body must disown the superseded stream: a page
    whose /Contents still points at that id then has no stream, and the
    whole file degrades to the fallback rather than silently extracting
    the stale superseded text as a graph-ordered page."""
    c_old = b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (stale stream) Tj ET"
    base_objs = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"),
    ]
    parts = [b"%PDF-1.5\n"]
    for oid, obj in base_objs:
        parts.append(b"%d 0 obj\n%b\nendobj\n" % (oid, obj))
    parts.append(
        b"4 0 obj\n<< /Length %d >>\nstream\n%b\nendstream\nendobj\n"
        % (len(c_old), c_old)
    )
    # update ObjStm redefines object 4 as a plain (non-stream) dict
    parts.append(_mk_objstm(5, [(4, b"<< /Superseded true >>")]))
    payload = b"".join(parts) + b"%%EOF"
    scanned = pdf_extract._scan_streams(payload)
    # object 4's stream is disowned (its definition is superseded), so
    # the dangling /Contents ref collapses the graph to the fallback
    assert pdf_extract._page_graph(payload, scanned) is None
    got = pdf_extract.extract_pages(payload)
    assert [p["markdown"] for p in got] == ["stale stream"]  # fallback page


def test_parse_objstm_malformed_inputs():
    assert pdf_extract._parse_objstm(b"/Type /ObjStm", b"junk") == []
    assert pdf_extract._parse_objstm(
        b"/Type /ObjStm /N 1 /First 99", b"short"
    ) == []
    assert pdf_extract._parse_objstm(
        b"/Type /ObjStm /N 1 /First 4", b"1 x\n<<>>"
    ) == []
    # well-formed uncompressed: two packed dicts (bodies 9 bytes each)
    data = b"7 0 9 9\n<< /A >>\n<< /B >>\n"
    got = pdf_extract._parse_objstm(b"/Type /ObjStm /N 2 /First 8", data)
    assert [(o, b.strip()) for o, b in got] == [
        (7, b"<< /A >>"),
        (9, b"<< /B >>"),
    ]


def test_glyph_only_cid_noto_pages_suppress_all_text():
    """Corpus v8: a Type0 font with NO ToUnicode is glyph-only — every
    string under it (Tj, hex-Tj, kerned TJ; plain, compressed, xref-
    stream, ObjStm files) yields NO text, never UTF-8 byte salad or
    U+FFFD floods; co-resident readable pages are untouched."""
    noto = {
        "columns": 1,
        "blocks": [
            {"t": "h", "level": 1, "text": "Secret Heading"},
            {"t": "p", "text": "hidden body text that must not leak"},
        ],
        "cid_noto": True,
    }
    cid = {
        "columns": 1,
        "blocks": [{"t": "p", "text": "readable cmap body"}],
        "cid": True,
        "tj": True,
    }
    plain = {"columns": 1, "blocks": [{"t": "p", "text": "plain page"}]}
    for knobs in ({}, {"xref_stream": True}, {"object_streams": True}):
        pdf = pdf_writer.write_pdf([noto, cid, plain], **knobs)
        got = [p["markdown"] for p in pdf_extract.extract_pages(pdf)]
        assert got == ["", "readable cmap body", "plain page"], knobs
        assert "Secret" not in "".join(got) and "�" not in "".join(got)
    # tj + compression on the glyph-only page itself
    pdf = pdf_writer.write_pdf([dict(noto, tj=True, compress=True)])
    assert [p["markdown"] for p in pdf_extract.extract_pages(pdf)] == [""]


def test_corpus_v8_emits_and_roundtrips_cid_noto_pages():
    """The corpus generator must actually emit glyph-only pages (the
    exclusion is corpus-exercised, not unit-test-only) and the kernel
    must reproduce the expected (empty) markdown for them through the
    ordinary golden path."""
    from markmuse_spark.sources import corpus

    n_noto = 0
    for i in range(0, 1500):
        url, payload, expected, err = corpus._make_doc(i, seed=42)
        if err is not None or not url.endswith(".pdf"):
            continue
        rng = random.Random(f"42:{i}")
        models = docmodel.random_pdf_pages(rng, docmodel._LANGS[i % 5])
        if not any(m.get("cid_noto") for m in models):
            continue
        if b"/Subtype /Type3" in payload:
            # corpus v14 promoted this doc to a uniform Type3 rendering:
            # its formerly glyph-only pages are readable again through
            # the glyph-name path — the v14 test owns that case
            continue
        n_noto += 1
        got = [p["markdown"] for p in pdf_extract.extract_pages(payload)]
        assert got == [e["markdown"] for e in expected]
        for m, g in zip(models, got):
            if m.get("cid_noto"):
                # corpus v12/v15: a glyph-only page may still carry the
                # document's Form-XObject letterhead and/or a FreeText
                # margin note (both readable outside the glyph-only
                # font) — but NOTHING from the page's own blocks may
                # surface
                if g:
                    for part in g.split("\n\n"):
                        assert part in (
                            corpus._FORM_TEXTS + corpus._ANNOT_NOTES
                        ), part
    assert n_noto >= 5  # the class is genuinely present in the corpus


def test_partial_index_xref_stream_keeps_trailer_root():
    """An xref stream whose /Index sections do not COVER the root id is
    no evidence against the dict's /Root (incremental updates list only
    updated objects) — the hint must survive, not fall to the body scan
    (round-4 advice on _parse_xref_stream//Prev)."""
    import re as _re
    import zlib as _zlib

    pm = {"columns": 1, "blocks": [{"t": "p", "text": "partial index page"}]}
    pdf = pdf_writer.write_pdf([pm], xref_stream=True)
    # surgically rewrite the final xref stream: drop the rows for object
    # ids 0 and 1 and declare /Index [2 n] accordingly
    m = _re.search(rb"(\d+) 0 obj\n<< /Type /XRef /Size (\d+) ", pdf)
    assert m
    head_start = m.start()
    size = int(m.group(2))
    stream_start = pdf.index(b"stream\n", head_start) + len(b"stream\n")
    stream_end = pdf.index(b"\nendstream", head_start)
    rows = _zlib.decompress(pdf[stream_start:stream_end])
    assert len(rows) == 7 * size
    kept = _zlib.compress(rows[14:], 6)  # rows 2..size-1
    xref_id = int(m.group(1))
    new_obj = (
        b"%d 0 obj\n<< /Type /XRef /Size %d /Index [2 %d] /W [1 4 2] "
        b"/Root 1 0 R /Filter /FlateDecode /Length %d >>\nstream\n%b"
        b"\nendstream\nendobj\n" % (xref_id, size, size - 2, len(kept), kept)
    )
    patched = (
        pdf[:head_start] + new_obj
        + b"startxref\n%d\n%%%%EOF\n" % head_start
    )
    scanned = pdf_extract._scan_streams(patched)
    blanked, _ = pdf_extract._blanked_objects(patched, scanned)
    assert pdf_extract._trailer_root(blanked, scanned) == 1
    got = [p["markdown"] for p in pdf_extract.extract_pages(patched)]
    assert got == ["partial index page"]


def test_predictor_xref_stream_extracts_identically():
    """Corpus v9: PNG-predictor'd xref streams (/DecodeParms /Predictor
    12, Up-filtered /W-width rows — the form most real writers emit)
    must extract byte-identically to the unpredicted form, and the
    entry table must decode to the SAME entries (not silently fall back
    to the body scan)."""
    import random

    from markmuse_spark.kernel.extract import extract_document
    from markmuse_spark.sources import docmodel

    for seed in range(12):
        rng = random.Random(f"pred:{seed}")
        pages = docmodel.random_pdf_pages(rng, "en")
        for objstm in (False, True):
            plain = pdf_writer.write_pdf(
                pages, xref_stream=True, object_streams=objstm
            )
            pred = pdf_writer.write_pdf(
                pages, xref_stream=True, object_streams=objstm,
                xref_predictor=True,
            )
            assert b"/Predictor 12" in pred and plain != pred
            r1 = extract_document("https://x/a.pdf", plain)
            r2 = extract_document("https://x/a.pdf", pred)
            assert r2["error"] is None
            assert r1["markdown"] == r2["markdown"]
            sc_p = pdf_extract._scan_streams(pred)
            xr_p = next(
                s for s in sc_p if pdf_extract._TYPE_XREF_RE.search(s[1])
            )
            sc_u = pdf_extract._scan_streams(plain)
            xr_u = next(
                s for s in sc_u if pdf_extract._TYPE_XREF_RE.search(s[1])
            )
            got = pdf_extract._parse_xref_stream(xr_p[1], xr_p[2])
            want = pdf_extract._parse_xref_stream(xr_u[1], xr_u[2])
            assert got == want and len(got) > 3


def test_png_unpredict_all_filter_tags():
    """The row unfilter reverses every PNG tag (not only the Up rows the
    writer emits) over multi-byte bpp units; invalid tags return None."""
    rows = [bytes([10, 20, 30, 40]), bytes([15, 25, 35, 45]),
            bytes([100, 5, 220, 7])]
    bpp = 2

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    tags = [1, 3, 4]  # Sub, Average, Paeth (0/2 covered by the writer)
    enc = bytearray()
    prev = bytes(4)
    for row, ft in zip(rows, tags):
        enc.append(ft)
        for i in range(4):
            left = row[i - bpp] if i >= bpp else 0
            up = prev[i]
            ul = prev[i - bpp] if i >= bpp else 0
            if ft == 1:
                enc.append((row[i] - left) & 0xFF)
            elif ft == 3:
                enc.append((row[i] - ((left + up) >> 1)) & 0xFF)
            else:
                enc.append((row[i] - paeth(left, up, ul)) & 0xFF)
        prev = row
    got = pdf_extract._png_unpredict(bytes(enc), 4, bpp)
    assert got == b"".join(rows)
    assert pdf_extract._png_unpredict(b"\x07aaaa", 4, 1) is None  # bad tag
    # trailing partial row ignored, full rows still decoded
    assert pdf_extract._png_unpredict(bytes(enc) + b"\x00\x01", 4, bpp) == b"".join(rows)


def test_undo_predictor_dialects():
    """Predictor absent/1 = identity; TIFF predictor (2) and damaged
    geometry degrade to None (body-scan fallback), never raise."""
    assert pdf_extract._undo_predictor(b"/W [1 4 2]", b"abc") == b"abc"
    assert pdf_extract._undo_predictor(b"/Predictor 1", b"abc") == b"abc"
    assert pdf_extract._undo_predictor(b"/Predictor 2 /Columns 7", b"abc") is None
    assert pdf_extract._undo_predictor(b"/Predictor 12 /Columns 0", b"") is None
    # array-form DecodeParms still found (key scanned across the dict)
    up = b"\x02" + bytes(7)
    assert (
        pdf_extract._undo_predictor(
            b"/DecodeParms [ << /Predictor 12 /Columns 7 >> ]", up
        )
        == bytes(7)
    )


# ---------------------------------------------------------------------
# corpus v10: filter chains, inline images, RC4 encryption
# ---------------------------------------------------------------------

def test_filter_forms_extract_identically():
    """Every corpus-v10 content-stream filter form (LZW, the classic
    ASCII85+Flate chain, RunLength, ASCIIHex) must extract to the SAME
    markdown as the plain form — the filter is transport, never text."""
    for seed in range(10):
        rng = random.Random(f"filt:{seed}")
        pages = docmodel.random_pdf_pages(rng, "en")
        want = [pdf_writer.expected_pdf_page_markdown(p) for p in pages]
        for form in ("lzw", "a85_flate", "rl", "ahx"):
            for p in pages:
                p["filters"] = form
            pdf = pdf_writer.write_pdf(pages)
            decl = {
                "lzw": b"/LZWDecode",
                "a85_flate": b"[/ASCII85Decode /FlateDecode]",
                "rl": b"/RunLengthDecode",
                "ahx": b"/ASCIIHexDecode",
            }[form]
            assert decl in pdf
            got = [pg["markdown"] for pg in pdf_extract.extract_pages(pdf)]
            assert got == want, (seed, form)


def test_lzw_codec_roundtrip_and_width_edges():
    """Writer LZW encoder vs kernel decoder across the 9->10->11->12-bit
    width switches (EarlyChange=1: decoder switches one entry early at
    511/1023/2047) and the 4096-entry clear-table reset."""
    rng = random.Random("lzw-edges")
    for n in (0, 1, 2, 300, 800, 1700, 3500, 9000, 30000):
        for gen in (
            lambda: rng.randrange(256),           # ~1 table entry/byte
            lambda: rng.randrange(4),             # long matches
            lambda: rng.choice(b"ab"),            # degenerate alphabet
        ):
            data = bytes(gen() for _ in range(n))
            enc = pdf_writer._lzw_encode(data)
            assert pdf_extract._lzw_decode(enc) == data, n
    # spec default EarlyChange=1 is what the writer emits; decoding the
    # same bytes with early=0 must NOT round-trip once a width switch
    # occurred (proves the parameter is honored, not ignored)
    data = bytes(rng.randrange(256) for _ in range(600))
    enc = pdf_writer._lzw_encode(data)
    try:
        wrong = pdf_extract._lzw_decode(enc, early=0)
    except ValueError:
        wrong = None
    assert wrong != data


def test_scalar_decoders_oracle_and_errors():
    """ASCII85/ASCIIHex against the stdlib oracle; RunLength against a
    hand-computed vector; every malformed input is ValueError."""
    import base64

    rng = random.Random("a85")
    for n in (0, 1, 2, 3, 4, 5, 63, 1000):
        data = bytes(rng.randrange(256) for _ in range(n))
        assert pdf_extract._a85_decode(base64.a85encode(data) + b"~>") == data
        assert pdf_extract._ahx_decode(data.hex().encode() + b">") == data
    assert pdf_extract._a85_decode(b"z z ~>") == bytes(8)  # zero groups
    assert pdf_extract._ahx_decode(b"4 1 4") == b"A@"      # ws + odd pad
    rl = bytes([2]) + b"abc" + bytes([254]) + b"x" + bytes([128]) + b"IGNORED"
    assert pdf_extract._rl_decode(rl) == b"abcxxx"          # EOD stops it
    for bad in (b"u" * 5 + b"~>",):                          # 85^5 overflow
        with pytest.raises(ValueError):
            pdf_extract._a85_decode(bad)
    with pytest.raises(ValueError):
        pdf_extract._a85_decode(b"A~>")                      # 1-char group
    with pytest.raises(ValueError):
        pdf_extract._ahx_decode(b"4G>")                      # non-hex digit
    with pytest.raises(ValueError):
        pdf_extract._rl_decode(bytes([5]) + b"ab")           # short literal
    with pytest.raises(ValueError):
        pdf_extract._lzw_decode(bytes([0xFF, 0xFF]))         # junk code


def test_unsupported_filter_is_loud():
    """A filter outside the decode set (image codecs) on a CONTENT
    stream must surface as structured page damage — round 7: salvaged
    per page (the page empties, the damage note names the filter, the
    document row gets a PartialExtraction error), no longer
    whole-document-fatal, and the bytes never flow into the text."""
    from markmuse_spark.kernel.extract import extract_document

    pages = [_simple_page("body text here")]
    pages[0]["compress"] = True
    pdf = pdf_writer.write_pdf(pages)
    bad = pdf.replace(b"/Filter /FlateDecode", b"/Filter /DCTDecode  ", 1)
    got = pdf_extract.extract_pages(bad)
    assert [p["markdown"] for p in got] == [""]
    assert "unsupported stream filter" in got[0]["damage"]
    row = extract_document("https://x.example/f.pdf", bad)
    assert row["error"] == "PartialExtraction: 1/1 pages damaged"
    assert row["markdown"] == ""  # never the raw bytes


def _simple_page(text: str) -> dict:
    return {
        "columns": 1,
        "blocks": [
            {"t": "h", "level": 1, "text": "Title Here"},
            {"t": "p", "spans": [("", text)]},
        ],
        "compress": False, "tj": False, "hex": False, "hex16": False,
        "cid": False, "cid_noto": False,
    }


def test_inline_image_trap_bytes_never_mint_text():
    """BI..ID..EI sample data that parses as ``(trap)Tj`` must be
    stripped before tokenization — phantom runs are training-corpus
    poison (spec 8.9.7; the data section is opaque binary)."""
    page = _simple_page("real page text stays")
    want = pdf_writer.expected_pdf_page_markdown(page)
    page["inline_image"] = True
    for filt in (None, "lzw", "a85_flate"):
        page["filters"] = filt
        pdf = pdf_writer.write_pdf([page])
        got = pdf_extract.extract_pages(pdf)
        assert [p["markdown"] for p in got] == [want], filt
        assert "trap" not in got[0]["markdown"]


def test_strip_inline_images_units():
    s = "BT (keep) Tj ET\nBI /W 3 /H 2 ID\n(trap)Tj x EI q\nBT (also) Tj ET"
    out = pdf_extract._strip_inline_images(s)
    assert "trap" not in out and "keep" in out and "also" in out
    # no terminator: the rest of the stream is opaque, dropped
    out2 = pdf_extract._strip_inline_images("BT (a) Tj ET BI /W 1 ID\nxxxx")
    assert "(a)" in out2 and "xxxx" not in out2
    # ID never found: everything after BI dropped
    out3 = pdf_extract._strip_inline_images("(b) Tj BI /W 1 /H 1")
    assert "(b)" in out3 and "/W 1" not in out3
    # literal BI inside a string is left alone when no dict follows it
    s4 = "BT (BI) Tj ET"
    assert pdf_extract._strip_inline_images(s4) == s4


def test_encrypted_pdf_extracts_identically():
    """RC4 Standard-handler files (V2/R3, empty user password) decrypt
    and extract byte-identically to their plaintext form — across
    compressed, CID, metadata-bearing, and filter-chain pages."""
    for seed in range(12):
        rng = random.Random(f"enc:{seed}")
        pages = docmodel.random_pdf_pages(rng, "en")
        want = [pdf_writer.expected_pdf_page_markdown(p) for p in pages]
        plain = pdf_writer.write_pdf(pages, metadata=(seed % 2 == 0))
        enc = pdf_writer.write_pdf(
            pages, metadata=(seed % 2 == 0), encrypt=True
        )
        assert b"/Encrypt" in enc and enc != plain
        got = [p["markdown"] for p in pdf_extract.extract_pages(enc)]
        assert got == want, seed
    with pytest.raises(ValueError, match="classic-xref"):
        pdf_writer.write_pdf(pages, xref_stream=True, encrypt=True)


def test_encrypted_pdf_failure_modes_are_loud():
    """Wrong password, AES, and non-Standard handlers are structured
    per-row errors — an unreadable encrypted doc must never flow onward
    as byte salad."""
    import re as _re

    enc = pdf_writer.write_pdf([_simple_page("secret body")], encrypt=True)
    m = _re.search(rb"/U <([0-9a-f]+)>", enc)
    tampered = enc[: m.start(1)] + b"00" * 32 + enc[m.end(1) :]
    with pytest.raises(ValueError, match="password required"):
        pdf_extract.extract_pages(tampered)
    aes = enc.replace(b"/V 2 /R 3", b"/V 4 /R 4")
    with pytest.raises(ValueError, match="unsupported cipher"):
        pdf_extract.extract_pages(aes)
    alien = enc.replace(b"/Filter /Standard", b"/Filter /Acme4000")
    with pytest.raises(ValueError, match="non-Standard"):
        pdf_extract.extract_pages(alien)
    # a /Encrypt byte fluke inside ordinary content must NOT trigger the
    # crypto path (the trailer has no /Encrypt ref)
    fluke = pdf_writer.write_pdf([_simple_page("mentions /Encrypt 9 0 R ok")])
    assert pdf_extract.extract_pages(fluke)[0]["markdown"]


def test_rc4_known_vectors():
    """Classic RC4 test vectors pin both the kernel's and the writer's
    independent implementations."""
    for impl in (pdf_extract._rc4, pdf_writer._rc4):
        assert impl(b"Key", b"Plaintext").hex().upper() == "BBF316E8D940AF0AD3"
        assert impl(b"Wiki", b"pedia").hex().upper() == "1021BF0420"
        assert impl(b"Secret", b"Attack at dawn").hex().upper() == (
            "45A01F645FC35B383552544B9BF5"
        )


def test_corpus_v10_emits_and_roundtrips_new_forms():
    """The deterministic corpus actually exercises every v10 form (LZW /
    A85+Flate / RunLength / ASCIIHex chains, inline images, RC4
    encryption) and every such doc extracts to its expected markdown."""
    from collections import Counter

    from markmuse_spark.sources import corpus

    seen = Counter()
    for i in range(4, 1200, 5):  # the PDF congruence class
        if i % 50 == 7:
            continue
        url, payload, expected, err = corpus._make_doc(i, 42)
        # corpus v17: a few % of rows are deliberately damaged
        # (truncated last stream) — those carry a deterministic
        # PartialExtraction note and STILL must extract to their
        # expected (salvaged) markdown below; any other err is a bug
        assert err is None or err.startswith("PartialExtraction:"), (i, err)
        for tag, needle in (
            ("lzw", b"/LZWDecode"),
            ("a85", b"/ASCII85Decode"),
            ("rl", b"/RunLengthDecode"),
            ("ahx", b"/ASCIIHexDecode"),
            ("enc", b"/Encrypt"),
        ):
            if needle in payload:
                seen[tag] += 1
        got = [p["markdown"] for p in pdf_extract.extract_pages(payload)]
        assert got == [p["markdown"] for p in expected], i
    assert all(seen[t] >= 3 for t in ("lzw", "a85", "rl", "ahx", "enc")), seen


# ---------------------------------------------------------------------
# corpus v11: AES encryption (AESV2 / AESV3 R5 / AESV3 R6)
# ---------------------------------------------------------------------


def test_aes_fips197_known_vectors():
    """FIPS-197 Appendix C vectors pin the from-scratch cipher — the
    S-box/T-tables are COMPUTED from the field at import, so these
    vectors are the proof the derivation matches the spec."""
    from markmuse_spark.kernel import aes

    key128 = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    assert (
        aes.encrypt_block(aes.expand_key(key128), pt).hex()
        == "69c4e0d86a7b0430d8cdb78070b4c55a"  # C.1
    )
    key192 = bytes.fromhex(
        "000102030405060708090a0b0c0d0e0f1011121314151617"
    )
    assert (
        aes.encrypt_block(aes.expand_key(key192), pt).hex()
        == "dda97ca4864cdfe06eaf70a0ec0d7191"  # C.2
    )
    key256 = bytes.fromhex(
        "000102030405060708090a0b0c0d0e0f"
        "101112131415161718191a1b1c1d1e1f"
    )
    ct = aes.encrypt_block(aes.expand_key(key256), pt)
    assert ct.hex() == "8ea2b7ca516745bfeafc49904b496089"  # C.3
    # inverse cipher: CBC with a zero IV over one block == ECB decrypt
    assert aes.cbc_decrypt(key256, bytes(16), ct) == pt


def test_aes_cbc_batch_roundtrip_and_errors():
    """CBC decrypt inverts encrypt across heterogeneous per-segment
    keys/IVs/lengths (the AESV2 shape: one key per object) and rejects
    malformed input loudly."""
    import hashlib

    from markmuse_spark.kernel import aes

    segs, want = [], []
    for i in range(7):
        k = hashlib.sha256(b"k%d" % i).digest()[:16]
        iv = hashlib.sha256(b"iv%d" % i).digest()[:16]
        data = hashlib.sha256(b"d%d" % i).digest() * (i + 1)
        segs.append((k, iv, aes.cbc_encrypt(k, iv, data)))
        want.append(data)
    assert [aes.cbc_decrypt(k, iv, ct) for k, iv, ct in segs] == want
    with pytest.raises(ValueError, match="not block-aligned"):
        aes.cbc_decrypt(b"k" * 16, bytes(16), b"short")
    with pytest.raises(ValueError, match="not block-aligned"):
        aes.cbc_decrypt(b"k" * 16, bytes(16), b"")
    with pytest.raises(ValueError, match="AES key"):
        aes.cbc_decrypt(b"k" * 10, bytes(16), bytes(16))
    with pytest.raises(ValueError, match="not block-aligned"):
        aes.cbc_encrypt(b"k" * 16, bytes(16), b"123")
    with pytest.raises(ValueError):
        aes.ecb_encrypt(b"k" * 16, b"123")
    with pytest.raises(ValueError, match="AES key"):
        aes.expand_key(b"tiny")


def test_aes_openssl_parity():
    """The OpenSSL entry points (cbc_encrypt / ecb_encrypt / cbc_decrypt,
    plus the pdf_extract RC4 wrapper) are byte-identical to the
    from-scratch FIPS-197 and RC4 references across key sizes, IVs and
    multi-segment inputs."""
    import hashlib

    from markmuse_spark.kernel import aes
    from markmuse_spark.kernel.pdf_extract import _rc4, _rc4_py

    def _cbc_encrypt_py(key, iv, data):
        kw = aes._key_words_py(aes.expand_key(key))
        p = [int.from_bytes(iv[4 * i : 4 * i + 4], "little") for i in range(4)]
        out = bytearray(len(data))
        for i in range(0, len(data), 16):
            p = list(
                aes._enc_words(
                    kw,
                    *[
                        p[j]
                        ^ int.from_bytes(data[i + 4 * j : i + 4 * j + 4], "little")
                        for j in range(4)
                    ],
                )
            )
            for j in range(4):
                out[i + 4 * j : i + 4 * j + 4] = p[j].to_bytes(4, "little")
        return bytes(out)

    for klen in (16, 24, 32):
        key = hashlib.sha256(b"key%d" % klen).digest()[:klen]
        iv = hashlib.sha256(b"iv%d" % klen).digest()[:16]
        for nblocks in (1, 2, 7):
            data = (hashlib.sha256(b"d%d" % nblocks).digest() * nblocks)[
                : 16 * nblocks
            ]
            want = _cbc_encrypt_py(key, iv, data)
            assert aes.cbc_encrypt(key, iv, data) == want
            assert aes.cbc_decrypt(key, iv, want) == data
        # ECB against the pure block cipher
        blocks = hashlib.sha256(b"e%d" % klen).digest()[:16] * 3
        rk = aes.expand_key(key)
        want_ecb = b"".join(
            aes.encrypt_block(rk, blocks[i : i + 16]) for i in range(0, 48, 16)
        )
        assert aes.ecb_encrypt(key, blocks) == want_ecb
    # RC4 wrapper vs pure fallback at every key length PDF Algorithms
    # 1/2 produce: OpenSSL takes 5/7/8/10/16 bytes, and the other
    # lengths must still reach _rc4_py through its ValueError
    for klen in range(5, 17):
        k = hashlib.sha256(b"rk%d" % klen).digest()[:klen]
        d = hashlib.sha256(b"rd").digest() * 4
        assert _rc4(k, d) == _rc4_py(k, d)


def test_pdf2_hash_revisions():
    """R5 is the single SHA-256 (independently checkable); R6 is the
    Algorithm-2.B hardened iteration — pinned as a regression value so
    any drift in the from-scratch chain is loud (writer and kernel share
    this implementation; end-to-end conformance evidence is that every
    R6 corpus file decrypts to its plaintext extraction)."""
    import hashlib

    from markmuse_spark.kernel import aes

    assert aes.pdf2_hash(b"pw", b"salt", b"u" * 48, 5) == hashlib.sha256(
        b"pw" + b"salt" + b"u" * 48
    ).digest()
    r6 = aes.pdf2_hash(b"", b"salzsalz", b"", 6)
    assert len(r6) == 32
    assert r6 != aes.pdf2_hash(b"", b"salzsalz", b"", 5)
    assert r6 == aes.pdf2_hash(b"", b"salzsalz", b"", 6)  # deterministic
    assert r6.hex() == (
        "0c7bbcb60d239b9e7e06e39ac139964ff8a0f6058b28e3bdf6e9b0668c179953"
    )


def test_aes_encrypted_pdf_extracts_identically():
    """All three AES Standard-handler forms (V4/AESV2 per-object keys,
    V5R5 interim, V5R6 hardened) decrypt and extract byte-identically to
    their plaintext form across the modern dialects RC4 never touches
    (xref streams, ObjStm, predictor'd xref)."""
    cases = [
        ("aesv2", dict()),
        ("aesv2", dict(xref_stream=True)),
        ("aesv3r5", dict(xref_stream=True, object_streams=True)),
        ("aesv3r5", dict(xref_stream=True, xref_predictor=True)),
        ("aesv3", dict(xref_stream=True, object_streams=True)),
    ]
    for ci, (cipher, knobs) in enumerate(cases):
        for seed in range(3 if cipher != "aesv3" else 1):  # R6 KDF ~1s/file
            rng = random.Random(f"aes:{ci}:{seed}")
            pages = docmodel.random_pdf_pages(rng, "en")
            want = [pdf_writer.expected_pdf_page_markdown(p) for p in pages]
            plain = pdf_writer.write_pdf(pages, **knobs)
            enc = pdf_writer.write_pdf(pages, encrypt=cipher, **knobs)
            assert b"/Encrypt" in enc and enc != plain, (cipher, knobs)
            got = [p["markdown"] for p in pdf_extract.extract_pages(enc)]
            assert got == want, (cipher, knobs, seed)


def test_aesv3_failure_modes_are_loud():
    """V5 files with a wrong password, a stripped /UE, a tampered /Perms,
    or corrupted stream bytes surface as structured errors — never byte
    salad flowing into a training corpus."""
    import re as _re

    enc = pdf_writer.write_pdf(
        [_simple_page("aes secret body")], encrypt="aesv3r5"
    )
    m = _re.search(rb"/U <([0-9a-f]+)>", enc)
    tampered = enc[: m.start(1)] + b"00" * 48 + enc[m.end(1) :]
    with pytest.raises(ValueError, match="password required"):
        pdf_extract.extract_pages(tampered)
    no_ue = _re.sub(rb"/UE <[0-9a-f]+> ", b"", enc, count=1)
    with pytest.raises(ValueError, match="/UE missing"):
        pdf_extract.extract_pages(no_ue)
    pm = _re.search(rb"/Perms <([0-9a-f]+)>", enc)
    bad_perms = enc[: pm.start(1)] + b"00" * 16 + enc[pm.end(1) :]
    with pytest.raises(ValueError, match="Perms integrity"):
        pdf_extract.extract_pages(bad_perms)
    # V5 with an unknown revision stays a loud unsupported-cipher error
    alien = enc.replace(b"/V 5 /R 5", b"/V 5 /R 9")
    with pytest.raises(ValueError, match="unsupported cipher"):
        pdf_extract.extract_pages(alien)


def test_aesv2_key_derivation_details():
    """V4 details the RC4 path never exercises: the per-object key salt
    (md5 tail ``sAlT``) and the /EncryptMetadata-false 0xFFFFFFFF tail
    on the file-key hash (spec algorithm 2 step f)."""
    base = pdf_extract._std_file_key(b"o" * 32, -44, b"fid", 4, 16)
    tailed = pdf_extract._std_file_key(
        b"o" * 32, -44, b"fid", 4, 16, meta_tail=True
    )
    assert base != tailed and len(base) == len(tailed) == 16
    # the writer's AESV2 per-object key and the kernel's must agree
    import hashlib

    key, num = b"K" * 16, 7
    fn = pdf_writer._stream_cipher("aesv2", key, b"fid")
    blob = fn(num, b"payload!")
    okey = hashlib.md5(
        key + num.to_bytes(3, "little") + b"\x00\x00" + b"sAlT"
    ).digest()[:16]
    from markmuse_spark.kernel import aes

    pt = aes.cbc_decrypt(okey, blob[:16], blob[16:])
    assert pt[: -pt[-1]] == b"payload!"


def test_corpus_v11_emits_and_roundtrips_aes_forms():
    """The deterministic corpus actually exercises every v11 cipher
    (AESV2, AESV3 R5, AESV3 R6) across the modern dialects, and every
    encrypted doc extracts to its expected markdown.  (RC4 presence is
    pinned by the v10 test; row 1119 is the seed-42 R6 file.)"""
    from collections import Counter

    from markmuse_spark.sources import corpus

    seen = Counter()
    for i in range(1204, 2400, 5):  # disjoint from the v10 test's range
        if i % 50 == 7:
            continue
        url, payload, expected, err = corpus._make_doc(i, 42)
        assert err is None or err.startswith("PartialExtraction:"), (i, err)
        if b"/Encrypt" not in payload:
            continue
        if b"/CFM /AESV3" in payload:
            seen["r6" if b"/R 6" in payload else "r5"] += 1
            assert b"/ID [<" in payload  # trailer fields in the xref stream
        elif b"/CFM /AESV2" in payload:
            seen["aesv2"] += 1
        else:
            seen["rc4"] += 1
        got = [p["markdown"] for p in pdf_extract.extract_pages(payload)]
        assert got == [p["markdown"] for p in expected], i
    assert seen["aesv2"] >= 2 and seen["r5"] >= 3, seen
    # the R6 form is corpus-present (rare by design: ~0.2s/file KDF)
    url, payload, expected, err = corpus._make_doc(1119, 42)
    assert b"/CFM /AESV3" in payload and b"/R 6" in payload
    got = [p["markdown"] for p in pdf_extract.extract_pages(payload)]
    assert got == [p["markdown"] for p in expected]


# ------------------------------------------------------------------
# corpus v12: Form XObjects (spec 8.10)
# ------------------------------------------------------------------

_FORM_PAGES = [
    {
        "columns": 1,
        "blocks": [
            {"t": "h", "level": 1, "text": "Body Title"},
            {"t": "p", "text": "body paragraph with several plain words"},
        ],
        "form_text": "Example Corp — Confidential",
    }
]


def test_form_xobject_splices_with_form_scoped_font():
    """`/Fm1 Do` splices the form's content at the invocation point, and
    the /F9 font declared ONLY in the form's own /Resources resolves —
    the stamp renders as the page's leading block."""
    pdf = pdf_writer.write_pdf(_FORM_PAGES)
    got = [p["markdown"] for p in pdf_extract.extract_pages(pdf)]
    assert got == [
        "Example Corp — Confidential\n\n# Body Title\n\n"
        "body paragraph with several plain words"
    ]
    # the form font must NOT be declared on the page dict — that is the
    # point of the fixture (form-scoped resources)
    assert b"/F9" not in pdf.split(b"/Type /Page ", 1)[1].split(b">>", 3)[2]


def test_form_xobject_composes_with_encryption_and_objstm():
    for kw in (
        {"encrypt": "rc4"},
        {"encrypt": "aesv2"},
        {"encrypt": "aesv3r5", "xref_stream": True},
        {"object_streams": True},
        {"xref_stream": True, "xref_predictor": True},
    ):
        pdf = pdf_writer.write_pdf(_FORM_PAGES, **kw)
        got = [p["markdown"] for p in pdf_extract.extract_pages(pdf)]
        want = [pdf_writer.expected_pdf_page_markdown(p) for p in _FORM_PAGES]
        assert got == want, kw


def _single_page_pdf_with_form_body(form_body: bytes, nested_res: bytes = b"") -> bytes:
    """Hand-built classic-xref file: page -> content `/Fx1 Do` -> form
    object 5 with arbitrary body/resources (for nesting/cycle shapes)."""
    content = b"BT /F1 10 Tf 1 0 0 1 72 720 Tm (base) Tj ET\n/Fx1 Do"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 6 0 R >> /XObject << /Fx1 5 0 R >> >> "
        b"/Contents 4 0 R >>",
        b"<< /Length %d >>\nstream\n%b\nendstream" % (len(content), content),
        b"<< /Type /XObject /Subtype /Form %b/Length %d >>\nstream\n%b\nendstream"
        % (nested_res, len(form_body), form_body),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    for i, o in enumerate(objs, 1):
        offs.append(len(out))
        out += b"%d 0 obj\n%b\nendobj\n" % (i, o)
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offs:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    return bytes(out)


def test_form_xobject_self_reference_degrades_to_drop():
    """A form invoking ITSELF (damage / bomb shape) must expand once and
    drop the inner invocation — bounded output, no recursion error."""
    body = b"BT /F1 10 Tf 1 0 0 1 72 756 Tm (stamp) Tj ET\n/Fx1 Do"
    pdf = _single_page_pdf_with_form_body(
        body, nested_res=b"/Resources << /XObject << /Fx1 5 0 R >> >> "
    )
    got = [p["markdown"] for p in pdf_extract.extract_pages(pdf)]
    assert got == ["stamp\n\nbase"]


def test_form_xobject_dangling_ref_drops_do_silently():
    content = b"BT /F1 10 Tf 1 0 0 1 72 720 Tm (base) Tj ET\n/Missing Do"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 5 0 R >> /XObject << /Missing 99 0 R >> >> "
        b"/Contents 4 0 R >>",
        b"<< /Length %d >>\nstream\n%b\nendstream" % (len(content), content),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    for i, o in enumerate(objs, 1):
        offs.append(len(out))
        out += b"%d 0 obj\n%b\nendobj\n" % (i, o)
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offs:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    got = [p["markdown"] for p in pdf_extract.extract_pages(bytes(out))]
    assert got == ["base"]


def test_corpus_v12_emits_and_roundtrips_form_xobjects():
    """The deterministic corpus actually stamps ~15% of PDFs with a Form
    XObject letterhead, forms compose with the encrypted/modern dialects,
    and every stamped doc extracts to its expected markdown (already
    asserted row-by-row in the other corpus tests — this pins PRESENCE
    and the glyph-only-page-with-stamp interaction)."""
    from markmuse_spark.sources import corpus

    n_form = n_form_enc = n_form_noto = 0
    for i in range(4, 1600, 5):  # PDF rows
        if i % 50 == 7:
            continue
        url, payload, expected, err = corpus._make_doc(i, 42)
        assert err is None or err.startswith("PartialExtraction:"), (i, err)
        if b"/Subtype /Form" not in payload:
            continue
        n_form += 1
        if b"/Encrypt" in payload:
            n_form_enc += 1
        got = [p["markdown"] for p in pdf_extract.extract_pages(payload)]
        want = [p["markdown"] for p in expected]
        assert got == want, i
        for g, w in zip(got, want):
            if w in corpus._FORM_TEXTS:  # glyph-only page: stamp only
                n_form_noto += 1
    assert n_form >= 20, n_form
    assert n_form_enc >= 1, "forms never composed with encryption"
    assert n_form_noto >= 1, "no glyph-only page carries the stamp"


# ------------------------------------------------------------------
# corpus v13: declared simple-font encodings (/Differences, WinAnsi)
# ------------------------------------------------------------------


def test_literal_string_escapes_spec_complete():
    """Octal escapes, named control escapes, line continuations and
    backslash-dropping (spec 7.3.4.2) — corpus v13 emits octal forms."""
    f = pdf_extract._unescape_literal
    assert f(r"\101\102C") == "ABC"
    assert f(r"\050ok\051") == "(ok)"
    assert f("a\\\nb") == "ab"  # line continuation
    assert f(r"\n\t\r\b\f") == "\n\t\r\b\f"
    assert f(r"\q") == "q"  # unknown escape: backslash dropped
    assert f(r"\0503") == "(3"  # 3-digit octal then literal digit
    assert f(r"\401") == "\x01"  # overflow wraps mod 256


_WINANSI_PAGES = [
    {
        "columns": 1,
        "blocks": [
            {"t": "h", "level": 1, "text": "Überschrift — “Œuvre”…"},
            {"t": "p", "text": "résumé für 20 € — ßœŒ «quoted» ±½ naïve"},
            {"t": "ul", "items": ["côté garçon", "señor años"]},
        ],
        "winansi": True,
    }
]


def test_winansi_differences_roundtrip_all_dialects():
    """Byte-coded strings under a declared WinAnsi+Differences encoding
    decode exactly — raw bytes and \\2xx octal spellings, plain Tj and
    kerned TJ, across the transport dialects."""
    for kw in (
        {},
        {"xref_stream": True},
        {"object_streams": True},
        {"encrypt": "rc4"},
        {"encrypt": "aesv3r5", "xref_stream": True},
    ):
        for tj in (False, True):
            pages = [dict(_WINANSI_PAGES[0], tj=tj)]
            pdf = pdf_writer.write_pdf(pages, **kw)
            got = [p["markdown"] for p in pdf_extract.extract_pages(pdf)]
            want = [pdf_writer.expected_pdf_page_markdown(p) for p in pages]
            assert got == want, (kw, tj)


def test_winansi_differences_low_codes_require_the_array():
    """The Differences block sits at codes 16..23: a reader ignoring it
    has NO base-encoding fallback for those codes — pin that the payload
    really uses them (the dialect proves remap handling, not cp1252)."""
    pdf = pdf_writer.write_pdf(_WINANSI_PAGES)
    scanned = pdf_extract._scan_streams(pdf)
    content = b"".join(
        pdf_extract._decode_stream(h, d).encode("latin-1", "ignore")
        for _s, h, d, _sp in scanned
    )
    assert any(bytes([c]) in content or b"\\%03o" % c in content
               for c in range(16, 24))


def test_encoding_indirect_ref_and_unknown_glyph_suppressed():
    """/Encoding as an indirect object resolves through the graph; a
    Differences entry naming an unresolvable glyph contributes NO text
    (suppress, never byte salad) while uniXXXX forms resolve."""
    content = b"BT /F1 10 Tf 1 0 0 1 72 720 Tm (A\x10\x11\x12B) Tj ET"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
        b"<< /Length %d >>\nstream\n%b\nendstream" % (len(content), content),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Times-Roman "
        b"/Encoding 6 0 R >>",
        b"<< /Type /Encoding /BaseEncoding /WinAnsiEncoding "
        b"/Differences [ 16 /uni2042 /nosuchglyphname /emdash ] >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    for i, o in enumerate(objs, 1):
        offs.append(len(out))
        out += b"%d 0 obj\n%b\nendobj\n" % (i, o)
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offs:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    got = [p["markdown"] for p in pdf_extract.extract_pages(bytes(out))]
    assert got == ["A⁂—B"]  # uni2042 resolves, unknown glyph vanishes


def test_macroman_base_encoding():
    table = pdf_extract._encoding_table(
        b"<< /Type /Font /Encoding /MacRomanEncoding >>", {}
    )
    assert table is not None
    assert table[0xD0] == "–" and table[0xA5] == "•"  # mac_roman facts
    # absent/unknown encodings keep the pre-v13 UTF-8 dialect behavior
    assert pdf_extract._encoding_table(b"<< /Type /Font >>", {}) is None
    assert (
        pdf_extract._encoding_table(
            b"<< /Type /Font /Encoding /SomeCustomEncoding >>", {}
        )
        is None
    )


def test_corpus_v13_emits_and_roundtrips_winansi_pages():
    """~12% of eligible pages declare WinAnsi+Differences; they compose
    with the transport/encryption dialects and extract exactly."""
    from markmuse_spark.sources import corpus

    n_win = 0
    for i in range(4, 2000, 5):
        if i % 50 == 7:
            continue
        url, payload, expected, err = corpus._make_doc(i, 42)
        assert err is None or err.startswith("PartialExtraction:"), (i, err)
        if b"/WinAnsiEncoding" not in payload:
            continue
        n_win += 1
        got = [p["markdown"] for p in pdf_extract.extract_pages(payload)]
        assert got == [p["markdown"] for p in expected], i
    assert n_win >= 10, n_win


# ------------------------------------------------------------------
# corpus v14: Type3 fonts (spec 9.6.5)
# ------------------------------------------------------------------

_TYPE3_PAGES = [
    {
        "columns": 1,
        "blocks": [
            {"t": "h", "level": 1, "text": "Type Three Title"},
            {"t": "p", "text": "body text, punctuation! naïve café — 你好"},
            {"t": "ol", "items": ["first item", "second item"]},
        ],
        "type3": True,
    }
]


def test_type3_font_roundtrips_all_dialects():
    """A document rendered entirely through a Type3 font decodes via
    Differences -> glyph name (AGL + /uniXXXX) — no base encoding, no
    ToUnicode — across transports; glyph procedures never become text."""
    for kw in (
        {},
        {"xref_stream": True},
        {"object_streams": True},
        {"encrypt": "rc4"},
        {"encrypt": "aesv3r5", "xref_stream": True},
    ):
        for tj in (False, True):
            pages = [dict(_TYPE3_PAGES[0], tj=tj)]
            pdf = pdf_writer.write_pdf(pages, **kw)
            got = [p["markdown"] for p in pdf_extract.extract_pages(pdf)]
            want = [pdf_writer.expected_pdf_page_markdown(p) for p in pages]
            assert got == want, (kw, tj)
            if "object_streams" not in kw:  # ObjStm packs the font dict
                assert b"/CharProcs" in pdf
            if not kw:  # plaintext classic file: glyph ops visible
                assert b"d0" in pdf


def test_type3_charprocs_never_become_pages_or_text():
    """The glyph-procedure streams outnumber the page content streams;
    page_idx stays aligned and no drawing op leaks into markdown."""
    pdf = pdf_writer.write_pdf(_TYPE3_PAGES)
    pages = pdf_extract.extract_pages(pdf)
    assert len(pages) == 1
    assert "d0" not in pages[0]["markdown"]
    assert "500" not in pages[0]["markdown"]


def test_corpus_v14_emits_and_roundtrips_type3_docs():
    """~6% of docs render uniformly Type3 (overriding the other
    font-form knobs, dvips-style); every one extracts exactly and the
    /uniXXXX glyph-name path is corpus-exercised."""
    from markmuse_spark.sources import corpus

    n_t3 = n_uni = 0
    for i in range(4, 2500, 5):
        if i % 50 == 7:
            continue
        url, payload, expected, err = corpus._make_doc(i, 42)
        assert err is None or err.startswith("PartialExtraction:"), (i, err)
        if b"/Subtype /Type3" not in payload:
            continue
        n_t3 += 1
        if b"/uni0" in payload:
            n_uni += 1
        got = [p["markdown"] for p in pdf_extract.extract_pages(payload)]
        assert got == [p["markdown"] for p in expected], i
    assert n_t3 >= 10, n_t3
    assert n_uni >= 5, "uniXXXX glyph names never exercised"


# ------------------------------------------------------------------
# review hardening: XObject splice guards (post-v14 review findings)
# ------------------------------------------------------------------


def _xobj_page_pdf(xobj_obj: bytes, content: bytes | None = None) -> bytes:
    """Classic-xref file: one page invoking `/Im1 Do` with object 5 as
    the given XObject body."""
    content = content or (
        b"BT /F1 10 Tf 1 0 0 1 72 720 Tm (base) Tj ET\n/Im1 Do"
    )
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 6 0 R >> /XObject << /Im1 5 0 R >> >> "
        b"/Contents 4 0 R >>",
        b"<< /Length %d >>\nstream\n%b\nendstream" % (len(content), content),
        xobj_obj,
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    for i, o in enumerate(objs, 1):
        offs.append(len(out))
        out += b"%d 0 obj\n%b\nendobj\n" % (i, o)
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offs:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    return bytes(out)


def test_image_xobject_bytes_never_become_text():
    """An IMAGE XObject whose decompressed sample bytes read as text
    operators must NOT be spliced — only /Subtype /Form yields content
    (the same stance as inline images)."""
    import zlib as _z

    trap = _z.compress(b"BT /F1 24 Tf 1 0 0 1 72 700 Tm (trap) Tj ET")
    img = (
        b"<< /Type /XObject /Subtype /Image /Width 4 /Height 4 "
        b"/ColorSpace /DeviceGray /BitsPerComponent 8 "
        b"/Filter /FlateDecode /Length %d >>\nstream\n%b\nendstream"
        % (len(trap), trap)
    )
    got = [p["markdown"] for p in pdf_extract.extract_pages(_xobj_page_pdf(img))]
    assert got == ["base"]


def test_undecodable_xobject_filter_never_aborts_the_document():
    """A DCT (JPEG) image XObject invoked via Do must not raise out of
    extract_pages: before v12 the Do was a no-op, and a scanned-JPEG
    page must keep extracting its real text."""
    img = (
        b"<< /Type /XObject /Subtype /Image /Width 4 /Height 4 "
        b"/Filter /DCTDecode /Length 9 >>\nstream\n\xff\xd8\xff\xdbJUNK!\nendstream"
    )
    got = [p["markdown"] for p in pdf_extract.extract_pages(_xobj_page_pdf(img))]
    assert got == ["base"]
    # same for a FORM whose filter is undecodable: dropped, not fatal
    form = (
        b"<< /Type /XObject /Subtype /Form /Filter /DCTDecode "
        b"/Length 4 >>\nstream\nJUNK\nendstream"
    )
    got = [p["markdown"] for p in pdf_extract.extract_pages(_xobj_page_pdf(form))]
    assert got == ["base"]


def test_form_fanout_amplification_is_budget_bounded():
    """Seven chained forms each invoking the next 30 times (a ~10KB
    file whose naive expansion is 30^6 x leaf ≈ 34GB) must hit the
    document decode budget — dropped invocations, not executor OOM.
    Without the budget this test OOMs/times out rather than asserts,
    which is the pin."""
    n_chain, fanout = 7, 30
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 4 0 R >> /XObject << /X0 5 0 R >> >> "
        b"/Contents 11 0 R >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    for k in range(n_chain):  # objects 5..10: X0 invokes X1 8x, etc.
        if k < n_chain - 1:
            body = b" ".join(b"/X%d Do" % (k + 1) for _ in range(fanout))
            res = b"/Resources << /XObject << /X%d %d 0 R >> >> " % (
                k + 1,
                6 + k,
            )
        else:
            body = b"BT /F1 10 Tf 1 0 0 1 72 720 Tm (leaf leaf leaf) Tj ET"
            res = b""
        objs.append(
            b"<< /Type /XObject /Subtype /Form %b/Length %d >>\nstream\n%b\nendstream"
            % (res, len(body), body)
        )
    content = b"/X0 Do"
    objs.append(
        b"<< /Length %d >>\nstream\n%b\nendstream" % (len(content), content)
    )
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    for i, o in enumerate(objs, 1):
        offs.append(len(out))
        out += b"%d 0 obj\n%b\nendobj\n" % (i, o)
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offs:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    pages = pdf_extract.extract_pages(bytes(out))  # must return, fast
    assert len(pages) == 1
    md = pages[0]["markdown"]
    assert len(md) < pdf_extract._MAX_DECODED
    # the drop branch FIRED: naive expansion repeats the leaf 30^6
    # times; the budget caps it orders of magnitude below that
    assert md.count("leaf") < 30**4


def test_sibling_form_resolution_is_order_independent():
    """A form with no own /Resources inherits the page's XObject names
    (spec 8.10.3): /A invoking /B must splice B regardless of the
    page dict's name order."""
    a_body = b"BT /F1 10 Tf 1 0 0 1 72 756 Tm (alpha) Tj ET\n/B Do"
    b_body = b"BT /F1 10 Tf 1 0 0 1 72 600 Tm (beta) Tj ET"
    for order in (b"/B 6 0 R /A 5 0 R", b"/A 5 0 R /B 6 0 R"):
        content = b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (base) Tj ET\n/A Do"
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 7 0 R >> /XObject << %b >> >> "
            b"/Contents 4 0 R >>" % order,
            b"<< /Length %d >>\nstream\n%b\nendstream"
            % (len(content), content),
            b"<< /Type /XObject /Subtype /Form /Length %d >>\nstream\n%b\nendstream"
            % (len(a_body), a_body),
            b"<< /Type /XObject /Subtype /Form /Length %d >>\nstream\n%b\nendstream"
            % (len(b_body), b_body),
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        ]
        out = bytearray(b"%PDF-1.4\n")
        offs = []
        for i, o in enumerate(objs, 1):
            offs.append(len(out))
            out += b"%d 0 obj\n%b\nendobj\n" % (i, o)
        xref_at = len(out)
        out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
        for off in offs:
            out += b"%010d 00000 n \n" % off
        out += (
            b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (len(objs) + 1, xref_at)
        )
        got = [p["markdown"] for p in pdf_extract.extract_pages(bytes(out))]
        assert got == ["alpha\n\nbase\n\nbeta"], order


def test_bare_lf_line_continuation_reaches_the_operand_match():
    """A literal string legally split with backslash-LF must match the
    _OP operand group end-to-end (re.S) and join through unescaping."""
    content = b"BT /F1 10 Tf 1 0 0 1 72 720 Tm (foo\\\nbar) Tj ET"
    runs = pdf_extract._parse_runs(content.decode("latin-1"))
    assert [r[3] for r in runs] == ["foobar"]


def test_corpus_v14_1_emits_and_roundtrips_macroman_pages():
    """The bare-name /Encoding /MacRomanEncoding form is corpus-present
    and extracts exactly (the dict+Differences form is pinned by the
    v13 test; this pins the OTHER common spelling)."""
    from markmuse_spark.sources import corpus

    n_mac = 0
    for i in range(4, 2500, 5):
        if i % 50 == 7:
            continue
        url, payload, expected, err = corpus._make_doc(i, 42)
        assert err is None or err.startswith("PartialExtraction:"), (i, err)
        if b"/Encoding /MacRomanEncoding" not in payload:
            continue
        n_mac += 1
        got = [p["markdown"] for p in pdf_extract.extract_pages(payload)]
        assert got == [p["markdown"] for p in expected], i
    assert n_mac >= 5, n_mac


def test_cid_font_declared_only_inside_form_still_decodes():
    """The form-scoped font merge happens BEFORE cmap resolution: a
    Type0+ToUnicode font referenced only from a Form XObject's own
    /Resources decodes its CID hex strings in the spliced content."""
    cmap = (
        b"/CIDInit /ProcSet findresource begin\nbegincmap\n"
        b"2 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        b"2 beginbfchar\n<0001> <0048>\n<0002> <0069>\nendbfchar\nendcmap"
    )
    form_body = b"BT /F7 10 Tf 1 0 0 1 72 756 Tm <00010002> Tj ET"
    content = b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (base) Tj ET\n/Fx1 Do"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 8 0 R >> /XObject << /Fx1 5 0 R >> >> "
        b"/Contents 4 0 R >>",
        b"<< /Length %d >>\nstream\n%b\nendstream" % (len(content), content),
        b"<< /Type /XObject /Subtype /Form "
        b"/Resources << /Font << /F7 6 0 R >> >> /Length %d >>\nstream\n%b\nendstream"
        % (len(form_body), form_body),
        b"<< /Type /Font /Subtype /Type0 /BaseFont /T+X "
        b"/Encoding /Identity-H /ToUnicode 7 0 R >>",
        b"<< /Length %d >>\nstream\n%b\nendstream" % (len(cmap), cmap),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    for i, o in enumerate(objs, 1):
        offs.append(len(out))
        out += b"%d 0 obj\n%b\nendobj\n" % (i, o)
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offs:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    got = [p["markdown"] for p in pdf_extract.extract_pages(bytes(out))]
    assert got == ["Hi\n\nbase"]


# ------------------------------------------------------------------
# corpus v15: visible FreeText annotations
# ------------------------------------------------------------------


def test_freetext_annotation_renders_as_final_block():
    pages = [
        {
            "columns": 1,
            "blocks": [
                {"t": "h", "level": 1, "text": "Title"},
                {"t": "p", "text": "body words here"},
            ],
            "annot_text": "Reviewed — see appendix",
        }
    ]
    for kw in ({}, {"xref_stream": True}, {"object_streams": True}):
        pdf = pdf_writer.write_pdf(pages, **kw)
        got = [p["markdown"] for p in pdf_extract.extract_pages(pdf)]
        assert got == ["# Title\n\nbody words here\n\nReviewed — see appendix"], kw


def test_nonvisible_annotation_kinds_yield_nothing():
    """Link/Popup/sticky-note /Text annotations render as icons or are
    invisible — their /Contents must NOT become page text."""
    content = b"BT /F1 10 Tf 1 0 0 1 72 720 Tm (base) Tj ET"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 5 0 R >> >> "
        b"/Annots [6 0 R 7 0 R] /Contents 4 0 R >>",
        b"<< /Length %d >>\nstream\n%b\nendstream" % (len(content), content),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Type /Annot /Subtype /Text /Rect [72 30 92 50] "
        b"/Contents (sticky note body) >>",
        b"<< /Type /Annot /Subtype /Link /Rect [72 60 200 80] "
        b"/Contents (link comment) >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    for i, o in enumerate(objs, 1):
        offs.append(len(out))
        out += b"%d 0 obj\n%b\nendobj\n" % (i, o)
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offs:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    got = [p["markdown"] for p in pdf_extract.extract_pages(bytes(out))]
    assert got == ["base"]


def test_corpus_v15_emits_and_roundtrips_annotations():
    from markmuse_spark.sources import corpus

    n_annot = 0
    for i in range(4, 2500, 5):
        if i % 50 == 7:
            continue
        url, payload, expected, err = corpus._make_doc(i, 42)
        assert err is None or err.startswith("PartialExtraction:"), (i, err)
        if b"/Subtype /FreeText" not in payload:
            continue
        n_annot += 1
        got = [p["markdown"] for p in pdf_extract.extract_pages(payload)]
        assert got == [p["markdown"] for p in expected], i
    assert n_annot >= 10, n_annot


def test_corpus_v15_1_ocr_layer_docs_extract_their_invisible_text():
    """Scanned-page docs (full-page DCT image + 3 Tr invisible text —
    the OCR-software output form) extract identically to visible pages:
    the image's opaque bytes never decode or tokenize, the invisible
    layer IS the text."""
    from markmuse_spark.sources import corpus

    n_ocr = 0
    for i in range(4, 2500, 5):
        if i % 50 == 7:
            continue
        url, payload, expected, err = corpus._make_doc(i, 42)
        assert err is None or err.startswith("PartialExtraction:"), (i, err)
        if b"/DCTDecode" not in payload:
            continue
        n_ocr += 1
        plain = (
            pdf_extract._decrypt_payload(payload)[0]
            if b"/Encrypt" in payload
            else payload
        )
        decoded = "\n".join(
            text
            for text, _cm, _an, _g, _dmg in pdf_extract._document_pages(plain)
        )
        assert "3 Tr" in decoded  # content streams may be compressed
        got = [p["markdown"] for p in pdf_extract.extract_pages(payload)]
        assert got == [p["markdown"] for p in expected], i
    assert n_ocr >= 10, n_ocr


# ------------------------------------------------------------------
# review hardening round 2: annotation and budget guards
# ------------------------------------------------------------------


def _classic_pdf(objs: list) -> bytes:
    """Assemble a classic-xref file from an objects list (the shared
    shape the hand-built fixtures above inline; new tests use this)."""
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    for i, o in enumerate(objs, 1):
        offs.append(len(out))
        out += b"%d 0 obj\n%b\nendobj\n" % (i, o)
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offs:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    return bytes(out)


def _annot_page_objs(annot_obj: bytes, annots_entry: bytes = b"/Annots [6 0 R]") -> list:
    content = b"BT /F1 10 Tf 1 0 0 1 72 720 Tm (base) Tj ET"
    return [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 5 0 R >> >> "
        b"%b /Contents 4 0 R >>" % annots_entry,
        b"<< /Length %d >>\nstream\n%b\nendstream" % (len(content), content),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        annot_obj,
    ]


def test_hidden_and_noview_annotations_are_suppressed():
    for flags in (b"/F 2", b"/F 34", b"/F 32"):
        pdf = _classic_pdf(_annot_page_objs(
            b"<< /Type /Annot /Subtype /FreeText /Rect [72 30 540 50] "
            b"/Contents (secret reviewer note) %b >>" % flags
        ))
        got = [p["markdown"] for p in pdf_extract.extract_pages(pdf)]
        assert got == ["base"], flags
    # the visible Print flag (4) still extracts
    pdf = _classic_pdf(_annot_page_objs(
        b"<< /Type /Annot /Subtype /FreeText /Rect [72 30 540 50] "
        b"/Contents (visible note) /F 4 >>"
    ))
    got = [p["markdown"] for p in pdf_extract.extract_pages(pdf)]
    assert got == ["base\n\nvisible note"]


def test_indirect_annots_array_resolves():
    """`/Annots N 0 R` (the Acrobat spelling) resolves through the
    object graph to the array object."""
    objs = _annot_page_objs(
        b"<< /Type /Annot /Subtype /FreeText /Rect [72 30 540 50] "
        b"/Contents (indirect note) >>",
        annots_entry=b"/Annots 7 0 R",
    )
    objs.append(b"[6 0 R]")
    got = [p["markdown"] for p in pdf_extract.extract_pages(_classic_pdf(objs))]
    assert got == ["base\n\nindirect note"]


def test_swapped_rect_corners_normalize():
    """Corners in any order (spec 7.9.5): a top-first rect must not
    reorder the note above body lines."""
    pdf = _classic_pdf(_annot_page_objs(
        b"<< /Type /Annot /Subtype /FreeText /Rect [540 50 72 30] "
        b"/Contents (swapped-rect note) >>"
    ))
    got = [p["markdown"] for p in pdf_extract.extract_pages(pdf)]
    assert got == ["base\n\nswapped-rect note"]


def test_encrypted_documents_decrypt_annotation_strings():
    """Superseded the round-2 suppress-entirely stance: the writer now
    encrypts annotation /Contents per spec 7.6.2 and the extractor
    decrypts at read time — encrypted and plaintext twins extract
    identically (the non-conforming plaintext-string case is pinned by
    test_nonconforming_plaintext_annotation_on_encrypted_doc_suppressed)."""
    pages = [
        {
            "columns": 1,
            "blocks": [
                {"t": "h", "level": 1, "text": "Title"},
                {"t": "p", "text": "body words"},
            ],
            "annot_text": "same note either way",
        }
    ]
    want = ["# Title\n\nbody words\n\nsame note either way"]
    for kw in ({}, {"encrypt": "rc4"}):
        pdf = pdf_writer.write_pdf(pages, **kw)
        got = [p["markdown"] for p in pdf_extract.extract_pages(pdf)]
        assert got == want, kw


# ------------------------------------------------------------------
# corpus v16: rotated pages
# ------------------------------------------------------------------


def test_rotated_pages_extract_in_visual_reading_order():
    """A /Rotate page (landscape MediaBox for 90/270) stores content in
    unrotated page space; clustering must run on the VISUAL coords."""
    blocks = [
        {"t": "h", "level": 1, "text": "Rotated Scan"},
        {"t": "p", "text": "body words flow normally"},
        {"t": "ul", "items": ["alpha", "beta"]},
    ]
    for rot in (90, 180, 270):
        for cols in (1, 2):
            pages = [{"columns": cols, "blocks": blocks, "rotate": rot}]
            pdf = pdf_writer.write_pdf(pages)
            got = [p["markdown"] for p in pdf_extract.extract_pages(pdf)]
            want = [pdf_writer.expected_pdf_page_markdown(p) for p in pages]
            assert got == want, (rot, cols)
            if rot in (90, 270):  # landscape box
                assert b"/MediaBox [0 0 792 612]" in pdf
            assert b"/Rotate %d" % rot in pdf


def test_corpus_v16_emits_and_roundtrips_rotated_pages():
    from markmuse_spark.sources import corpus

    n_rot = 0
    for i in range(4, 2500, 5):
        if i % 50 == 7:
            continue
        url, payload, expected, err = corpus._make_doc(i, 42)
        assert err is None or err.startswith("PartialExtraction:"), (i, err)
        if b"/Rotate" not in payload:
            continue
        n_rot += 1
        got = [p["markdown"] for p in pdf_extract.extract_pages(payload)]
        assert got == [p["markdown"] for p in expected], i
    assert n_rot >= 10, n_rot


# ------------------------------------------------------------------
# corpus v16.1: encrypted annotation strings
# ------------------------------------------------------------------


def test_encrypted_annotation_strings_decrypt_at_read_time():
    """Spec 7.6.2: every string encrypts with the object's key.  The
    writer emits annotation /Contents as hex ciphertext; the extractor
    decrypts it with the string filter and renders the note."""
    pages = [
        {
            "columns": 1,
            "blocks": [
                {"t": "h", "level": 1, "text": "Title"},
                {"t": "p", "text": "body words"},
            ],
            "annot_text": "secret margin note — décrypté",
        }
    ]
    for kw in (
        {"encrypt": "rc4"},
        {"encrypt": "aesv2"},
        {"encrypt": "aesv3r5", "xref_stream": True},
    ):
        pdf = pdf_writer.write_pdf(pages, **kw)
        assert b"secret margin note" not in pdf  # really ciphertext
        got = [p["markdown"] for p in pdf_extract.extract_pages(pdf)]
        assert got == [
            "# Title\n\nbody words\n\nsecret margin note — décrypté"
        ], kw


def test_nonconforming_plaintext_annotation_on_encrypted_doc_suppressed():
    """A producer that left the /Contents string PLAINTEXT inside an
    encrypted file is non-conforming; 'decrypting' it yields noise and
    the printability guard suppresses it — never byte salad."""
    pages = [
        {
            "columns": 1,
            "blocks": [
                {"t": "h", "level": 1, "text": "Title"},
                {"t": "p", "text": "body words"},
            ],
        }
    ]
    pdf = pdf_writer.write_pdf(pages, encrypt="rc4")
    # graft a plaintext FreeText annotation into the encrypted file via
    # an incremental update (appended objects, classic xref tail)
    n_obj = pdf.count(b" 0 obj")
    aid = n_obj + 1
    annot = (
        b"%d 0 obj\n<< /Type /Annot /Subtype /FreeText "
        b"/Rect [72 30 540 50] /Contents (plaintext in an encrypted file) >>"
        b"\nendobj\n" % aid
    )
    # simplest structural graft: rewrite the page object to reference
    # the new annot id, append the annot, and re-serialize is overkill —
    # instead build the file from scratch with the annot injected after
    # encryption (what a sloppy post-processor does)
    import re as _re

    m = _re.search(rb"<< /Type /Page [^>]*>>", pdf)
    patched = (
        pdf[: m.end() - 2] + b" /Annots [%d 0 R] >>" % aid + pdf[m.end():]
    )
    # the patch moved offsets; the kernel's last-startxref parse will
    # fall back through the object scan, which tolerates this
    patched += annot
    got = [p["markdown"] for p in pdf_extract.extract_pages(patched)]
    # the guard must suppress the garbled note ENTIRELY: exact equality
    # pins it (the earlier version only checked two byte values and
    # green-lit the salad)
    assert got == ["# Title\n\nbody words"]


def test_corpus_v16_1_emits_encrypted_annotated_docs():
    from markmuse_spark.sources import corpus

    n = 0
    for i in range(4, 5000, 5):
        if i % 50 == 7:
            continue
        url, payload, expected, err = corpus._make_doc(i, 42)
        assert err is None or err.startswith("PartialExtraction:"), (i, err)
        if b"/Encrypt" not in payload or b"/Subtype /FreeText" not in payload:
            continue
        n += 1
        got = [p["markdown"] for p in pdf_extract.extract_pages(payload)]
        assert got == [p["markdown"] for p in expected], i
    assert n >= 3, n


def test_objstm_packed_annotation_strings_are_not_double_decrypted():
    """Spec 7.5.7: strings inside an object stream are protected by the
    ObjStm's own encryption, never individually — the conforming
    AES+ObjStm file stores /Contents plaintext-within-stream, and the
    extractor must NOT apply the string filter to it."""
    pages = [
        {
            "columns": 1,
            "blocks": [
                {"t": "h", "level": 1, "text": "Title"},
                {"t": "p", "text": "body words"},
            ],
            "annot_text": "note packed in the object stream",
        }
    ]
    pdf = pdf_writer.write_pdf(pages, encrypt="aesv3r5", object_streams=True)
    got = [p["markdown"] for p in pdf_extract.extract_pages(pdf)]
    assert got == [
        "# Title\n\nbody words\n\nnote packed in the object stream"
    ]


def test_rotate_inherited_from_pages_node_and_offset_mediabox():
    """/Rotate and /MediaBox are inheritable (spec 7.7.3.4) and the
    MediaBox origin need not be (0,0): a /Pages-level /Rotate 90 with a
    shifted landscape box must still reconstruct visual reading order."""
    # visual layout: title at (72,720), body at (72,700) in a 612x792
    # visual page; page space = shifted landscape box [20 20 812 632],
    # inverse-90 with origin: x = x0 + (W - y_vis), y = y0 + x_vis
    x0, y0, w, h = 20, 20, 792, 612
    runs = [(24, 72, 720, "Big Title"), (10, 72, 700, "body words here")]
    content = b"\n".join(
        b"BT /F1 %d Tf 1 0 0 1 %d %d Tm (%s) Tj ET"
        % (s_, x0 + (w - y), y0 + x, t.encode())
        for s_, x, y, t in runs
    )
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 /Rotate 90 "
        b"/MediaBox [20 20 812 632] >>",
        b"<< /Type /Page /Parent 2 0 R "
        b"/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
        b"<< /Length %d >>\nstream\n%b\nendstream" % (len(content), content),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    pdf = _classic_pdf(objs)
    got = [p["markdown"] for p in pdf_extract.extract_pages(pdf)]
    assert got == ["# Big Title\n\nbody words here"]


# ---------------------------------------------------------------------------
# round 7 (corpus v17): wild-input recovery — truncation salvage, hybrid
# /XRefStm precedence, garbled-xref robustness
# ---------------------------------------------------------------------------

def _two_pages() -> list[dict]:
    return [
        _simple_page("alpha body one two three"),
        {**_simple_page("beta body four five six"),
         "blocks": [
             {"t": "h", "level": 1, "text": "Beta Title"},
             {"t": "p", "spans": [("", "beta body four five six")]},
         ]},
    ]


def test_truncated_last_stream_salvages_intact_pages():
    """Round-7 ask #1: a download cut mid-way through the LAST page's
    content stream (the Common-Crawl norm) must salvage every intact
    page and mark the damaged one — never demote the whole document to
    the stream-scan fallback or a dead row."""
    from markmuse_spark.kernel.extract import extract_document

    pages = _two_pages()
    pdf = pdf_writer.write_pdf(pages)
    full = [p["markdown"] for p in pdf_extract.extract_pages(pdf)]
    cut = pdf[: pdf.rfind(b"endstream") - 5]  # also drops xref + trailer
    got = pdf_extract.extract_pages(cut)
    assert got[0]["markdown"] == full[0] and "damage" not in got[0]
    assert got[1]["markdown"] == "" and "missing" in got[1]["damage"]
    row = extract_document("https://x.example/t.pdf", cut)
    assert row["error"] == "PartialExtraction: 1/2 pages damaged"
    assert full[0] in row["markdown"]  # recovered markdown ships


def test_corrupt_content_stream_salvages_other_pages():
    """One undecodable (bit-flipped) compressed content stream costs one
    page, not the document."""
    import re as _re

    from markmuse_spark.kernel.extract import extract_document

    pages = _two_pages()
    for p in pages:
        p["compress"] = True
    pdf = pdf_writer.write_pdf(pages)
    full = [p["markdown"] for p in pdf_extract.extract_pages(pdf)]
    s = [m.end() for m in _re.finditer(rb"(?<!end)stream\n", pdf)][-1]
    bad = bytearray(pdf)
    for k in range(10, 20):
        bad[s + k] ^= 0xFF
    got = pdf_extract.extract_pages(bytes(bad))
    assert got[0]["markdown"] == full[0]
    assert got[1]["markdown"] == "" and "undecodable" in got[1]["damage"]
    row = extract_document("https://x.example/c.pdf", bytes(bad))
    assert row["error"] == "PartialExtraction: 1/2 pages damaged"


def test_all_pages_dangling_still_falls_back_whole_file():
    """The salvage path must NOT replace the whole-file fallback when the
    graph yields NOTHING (every page's content dangles) — the pinned
    ObjStm-supersession behavior (see
    test_objstm_packed_redefinition_disowns_stale_stream)."""
    pdf = pdf_writer.write_pdf([_simple_page("only page text")])
    cut = pdf[: pdf.rfind(b"endstream") - 5]  # 1-page doc: nothing left
    scanned = pdf_extract._scan_streams(cut)
    assert pdf_extract._page_graph(cut, scanned) is None


def test_hybrid_xref_stream_takes_precedence_over_classic():
    """Spec 7.5.8.4 (round-7 ask #4): in a hybrid-reference file the
    /XRefStm stream's fields win over the classic trailer's — a tampered
    classic /Root must NOT steer root resolution; with the stream
    unreadable, the classic trailer stands."""
    pages = _two_pages()
    hyb = pdf_writer.write_pdf(pages, hybrid_xref=True)
    assert b"/XRefStm" in hyb
    want = [p["markdown"] for p in pdf_extract.extract_pages(
        pdf_writer.write_pdf(pages))]
    assert [p["markdown"] for p in pdf_extract.extract_pages(hyb)] == want

    # classic trailer lies (/Root -> the font object); stream must win
    tpos = hyb.rfind(b"trailer")
    tam = hyb[:tpos] + hyb[tpos:].replace(b"/Root 1 0 R", b"/Root 3 0 R", 1)
    scanned = pdf_extract._scan_streams(tam)
    blanked, _ = pdf_extract._blanked_objects(tam, scanned)
    assert pdf_extract._trailer_root(blanked, scanned) == 1
    assert [p["markdown"] for p in pdf_extract.extract_pages(tam)] == want

    # stream blanked out: classic trailer is the only (now lying) source
    dead = tam.replace(b"/Type /XRef", b"/Type /Junk")
    scanned2 = pdf_extract._scan_streams(dead)
    blanked2, _ = pdf_extract._blanked_objects(dead, scanned2)
    assert pdf_extract._trailer_root(blanked2, scanned2) == 3

    # hybrid + PNG-predicted entry table (the common producer pairing)
    hyb2 = pdf_writer.write_pdf(pages, hybrid_xref=True, xref_predictor=True)
    assert [p["markdown"] for p in pdf_extract.extract_pages(hyb2)] == want


def test_garbled_startxref_extracts_unchanged():
    """A damaged xref pointer (startxref out of range) must not change
    extraction: root resolution falls back to the body scan."""
    import re as _re

    for kwargs in ({}, {"xref_stream": True}, {"object_streams": True}):
        pages = _two_pages()
        pdf = pdf_writer.write_pdf(pages, **kwargs)
        want = [p["markdown"] for p in pdf_extract.extract_pages(pdf)]
        bad = _re.sub(rb"startxref\s+\d+", b"startxref\n9999999999", pdf)
        assert [p["markdown"] for p in pdf_extract.extract_pages(bad)] == want


def test_hybrid_xref_rejects_incompatible_dialects():
    with pytest.raises(ValueError, match="hybrid_xref"):
        pdf_writer.write_pdf([_simple_page("x")], hybrid_xref=True,
                             xref_stream=True)
    with pytest.raises(ValueError, match="hybrid_xref"):
        pdf_writer.write_pdf([_simple_page("x")], hybrid_xref=True,
                             encrypt=True)


def test_inline_image_coincidental_ei_in_sample_data():
    """Round-6 advice: a coincidental `` EI `` INSIDE the sample bytes
    must not terminate the image early and feed the remaining binary to
    the tokenizer.  Unfiltered data: the /W /H /BPC /CS length wins;
    filtered data: a candidate EI followed by binary noise is rejected
    in favor of one that resumes as operators."""
    # 3x2 RGB @8bpc = 18 sample bytes, bytes 5..9 spell " EI " and the
    # remainder spells a text op that must never mint
    sample = "abcd EI (x)Tj\x01\x02abc"
    assert len(sample) == 18
    content = (
        "BT /F1 12 Tf 1 0 0 1 72 720 Tm (keep me) Tj ET\n"
        "BI /W 3 /H 2 /CS /RGB /BPC 8 ID\n" + sample + "\nEI\n"
        "BT /F1 12 Tf 1 0 0 1 72 700 Tm (also keep) Tj ET"
    )
    stripped = pdf_extract._strip_inline_images(content)
    assert "keep me" in stripped and "also keep" in stripped
    assert "(x)Tj" not in stripped

    # /ImageMask true: 1 bit per pixel, ONE channel — 8x8 mask = 8
    # bytes, NOT 64 (the round-7 review caught the 8-bpc default
    # computing past the real terminator and dropping the tail)
    mask = "ab EI zz"  # 8 sample bytes incl. a coincidental EI
    content_im = (
        "BI /IM true /W 8 /H 8 ID\n" + mask + "\nEI\n"
        "BT /F1 12 Tf 1 0 0 1 72 700 Tm (mask tail) Tj ET"
    )
    stripped_im = pdf_extract._strip_inline_images(content_im)
    assert "mask tail" in stripped_im
    assert "zz" not in stripped_im

    # filtered form (length unknowable): the early EI is followed by
    # binary noise -> rejected; the real EI resumes with an operator
    content2 = (
        "BI /W 3 /H 2 /F /Fl ID\nzz EI \xff\xfe(y)Tj\x80\x81 EI\nQ\n"
        "BT (tail text) Tj ET"
    )
    stripped2 = pdf_extract._strip_inline_images(content2)
    assert "tail text" in stripped2
    assert "(y)Tj" not in stripped2


def test_pdf2_hash_r6_against_independent_replica():
    """ADVICE round 6: the R6 KDF is one implementation shared by writer
    and kernel, previously pinned only by a self-minted regression hex.
    No external tool (qpdf/Acrobat) exists in this sandbox to mint a
    foreign vector, so this is the strongest available independence: a
    SECOND Algorithm-2.B implementation written here in a different
    shape (explicit round counter, for/break instead of the while-guard)
    from the ISO 32000-2 7.6.4.3.4 description — the stop-condition
    semantics (>= 64 rounds, then stop once E's last byte <= rounds_done
    - 32, checked BEFORE each extra round) are exercised across inputs
    whose stop round differs, so an off-by-one in either copy diverges."""
    import hashlib

    from markmuse_spark.kernel import aes

    def replica_2b(password: bytes, salt: bytes, udata: bytes) -> bytes:
        k = hashlib.sha256(password + salt + udata).digest()
        rounds_done = 0
        last_e = b"\x00"
        for _ in range(10_000):  # hard bound; spec loop terminates long before
            if rounds_done >= 64 and last_e[-1] <= rounds_done - 32:
                break
            k1 = (password + k + udata) * 64
            last_e = aes.cbc_encrypt(k[:16], k[16:32], k1)
            digest = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[
                sum(last_e[:16]) % 3
            ]
            k = digest(last_e).digest()
            rounds_done += 1
        return k[:32]

    cases = [
        (b"", b"salzsalz", b""),
        (b"", b"\x00" * 8, b""),
        (b"user pw", b"12345678", b""),
        (b"owner", b"abcdefgh", b"U" * 48),
        (b"\xe2\x82\xac-utf8", b"saltsalt", b""),
    ] + [(b"p%d" % i, b"s%07d" % i, b"") for i in range(12)]
    for pw, salt, ud in cases:
        assert aes.pdf2_hash(pw, salt, ud, 6) == replica_2b(pw, salt, ud), (
            pw, salt)
    # the committed regression hex stays pinned (drift in BOTH copies at
    # once would still be loud here)
    assert aes.pdf2_hash(b"", b"salzsalz", b"", 6).hex() == (
        "0c7bbcb60d239b9e7e06e39ac139964ff8a0f6058b28e3bdf6e9b0668c179953"
    )


def test_aesv3_u_verify_and_ue_unwrap_replica_chain():
    """The V5 credential chain (/U validation salt hash, /UE
    intermediate-key unwrap) re-derived in-test from the writer's raw
    security-dict fields, independently of the kernel's
    _aesv3_file_key: the unwrapped file key must match the writer's."""
    import hashlib

    from markmuse_spark.kernel import aes
    from markmuse_spark.sources.pdf_writer import _aesv3_security

    for r in (5, 6):
        file_id = hashlib.md5(b"chain|%d" % r).digest()
        key, o_val, u_val, oe, ue, perms = _aesv3_security(file_id, p=-44, r=r)
        vs, ks = u_val[32:40], u_val[40:48]
        # /U verify: hash(password="", validation salt) == U[:32]
        assert aes.pdf2_hash(b"", vs, b"", r) == u_val[:32]
        # /UE unwrap: AES-256-CBC-decrypt(hash(pw, key salt), iv=0, UE)
        unwrapped = aes.cbc_decrypt(
            aes.pdf2_hash(b"", ks, b"", r), bytes(16), ue[:32]
        )
        assert unwrapped == key
        # /Perms: decrypts under the file key to 'adb' marker (spec
        # 7.6.4.4.12); P = -44 little-endian in the first 4 bytes
        # (one block: CBC with a zero IV is ECB, as the kernel reads it)
        pdec = aes.cbc_decrypt(key, bytes(16), perms[:16])
        assert pdec[9:12] == b"adb"
        assert int.from_bytes(pdec[:4], "little", signed=True) == -44


# ---------------------------------------------------------------------------
# round 7 (corpus v17.1): junk before the %PDF header (Annex C tolerance)
# ---------------------------------------------------------------------------

def test_junk_prefixed_pdf_sniffs_and_extracts_identically():
    """A PDF with up to 1024 bytes of junk before the header (proxy
    banner / HTTP leak / BOM+nulls / chunked residue — the wild-download
    norm) must extract IDENTICALLY to the clean file: the old strict
    magic test routed these to the HTML extractor, which minted the raw
    PDF syntax as markdown."""
    from markmuse_spark.kernel.extract import extract_document
    from markmuse_spark.sources.corpus import _JUNK_PREFIXES

    pdf = pdf_writer.write_pdf(_two_pages())
    base = extract_document("https://x.example/j.pdf", pdf)
    assert base["error"] is None and "alpha body" in base["markdown"]
    for junk in _JUNK_PREFIXES + (b"x" * 1000 + b"\n",):
        row = extract_document("https://x.example/j.pdf", junk + pdf)
        assert row["markdown"] == base["markdown"], junk[:20]
        assert row["error"] is None
    # memoryview payloads (the zero-copy Arrow path) sniff identically
    row = memoryview(_JUNK_PREFIXES[0] + pdf)
    assert extract_document("https://x.example/j.pdf", row)[
        "markdown"
    ] == base["markdown"]


def test_junk_prefix_composes_with_truncation_salvage():
    """Junk prefix + truncated last stream (both v17 forms on one file):
    the sniff slices to the header, then salvage recovers page 1."""
    from markmuse_spark.kernel.extract import extract_document

    pdf = pdf_writer.write_pdf(_two_pages())
    cut = pdf[: pdf.rfind(b"endstream") - 5]
    row = extract_document(
        "https://x.example/jt.pdf",
        b"HTTP/1.1 200 OK\r\n\r\n" + cut,
    )
    assert row["error"] == "PartialExtraction: 1/2 pages damaged"
    assert "alpha body" in row["markdown"]


def test_html_mentioning_pdf_magic_is_not_misrouted():
    """An HTML page that MENTIONS "%PDF-" in its first kilobyte (a blog
    post about PDF internals) must stay on the HTML path: the sniff
    demands a corroborating obj keyword after the header candidate."""
    from markmuse_spark.kernel.extract import extract_document

    html = (
        b"<html><head><title>About %PDF-1.7 headers</title></head>"
        b"<body><article><h1>PDF internals</h1><p>Every file starts "
        b"with a magic comment and version marker, then numbered "
        b"objects such as 4 0 objects of the body follow.</p>"
        b"</article></body></html>"
    )
    # the prose deliberately contains " obj" substrings ("objects",
    # "0 objects") — the round-7 review caught a bare substring test
    # misrouting exactly this page; corroboration demands a hard
    # `N G obj` token
    row = extract_document("https://x.example/blog.html", html)
    assert row["error"] is None
    assert "PDF internals" in row["markdown"]
    assert "endobj" not in row["markdown"]
    # ...but junk-prefixed payloads WITH real structure route to PDF even
    # when the junk itself is HTML-shaped
    pdf = pdf_writer.write_pdf([_simple_page("route me right")])
    row2 = extract_document(
        "https://x.example/b.pdf", b"<!-- banner -->\n" + pdf
    )
    assert row2["error"] is None and "route me right" in row2["markdown"]


# ---------------------------------------------------------------------------
# round 7 (corpus v17.2): mid-document bit-rot — corrupt-stream salvage
# ---------------------------------------------------------------------------

def test_corrupt_page_idx_writer_contract():
    """The writer's corrupt_page_idx knob: one flipped byte inside the
    chosen page's Flate stream, rejected outside the plain classic
    dialect or on a non-compress page (silent skips would quietly mint
    healthy files where the corpus promises damage)."""
    pages = [
        {**_simple_page("alpha body"), "compress": True},
        {**_simple_page("beta body"), "compress": True},
        {**_simple_page("gamma body"), "compress": True},
    ]
    clean = pdf_writer.write_pdf(pages)
    bad = pdf_writer.write_pdf(pages, corrupt_page_idx=1)
    assert len(bad) == len(clean)  # ONE byte differs, nothing moves
    assert sum(a != b for a, b in zip(clean, bad)) == 1
    with pytest.raises(ValueError, match="classic"):
        pdf_writer.write_pdf(pages, corrupt_page_idx=1, xref_stream=True)
    with pytest.raises(ValueError, match="compress"):
        pdf_writer.write_pdf([_simple_page("x"), _simple_page("y")],
                             corrupt_page_idx=1)


def test_corrupt_mid_page_salvages_neighbors_both_sides():
    """Corpus v17.2 semantics end-to-end: the flipped byte empties
    EXACTLY the damaged page; pages before AND after extract intact and
    the document row carries the deterministic partial note."""
    from markmuse_spark.kernel.extract import extract_document

    pages = [
        {**_simple_page("alpha body one"), "compress": True},
        {**_simple_page("beta body two"), "compress": True},
        {**_simple_page("gamma body three"), "compress": True},
    ]
    clean = [p["markdown"]
             for p in pdf_extract.extract_pages(pdf_writer.write_pdf(pages))]
    bad = pdf_writer.write_pdf(pages, corrupt_page_idx=1)
    got = pdf_extract.extract_pages(bad)
    assert [p["markdown"] for p in got] == [clean[0], "", clean[2]]
    assert "undecodable" in got[1]["damage"]
    assert "damage" not in got[0] and "damage" not in got[2]
    row = extract_document("https://x.example/c.pdf", bad)
    assert row["error"] == "PartialExtraction: 1/3 pages damaged"
    assert clean[0] in row["markdown"] and clean[2] in row["markdown"]


def test_corpus_v17_2_emits_corrupt_mid_rows():
    """The deterministic corpus actually carries the corrupt-mid
    population, and each such row extracts to its expected salvage."""
    from markmuse_spark.kernel.extract import extract_document
    from markmuse_spark.golden.oracle import assemble_document
    from markmuse_spark.sources import corpus

    n = 0
    for i in range(4, 12000, 5):
        if i % 50 == 7:
            continue
        url, payload, expected, err = corpus._make_doc(i, 42)
        if expected is None or err is None:
            continue
        if b"%%EOF" not in payload[-30:]:
            continue  # truncation rows; corrupt-mid keeps the tail
        n += 1
        row = extract_document(url, payload)
        want = assemble_document(url, expected)
        assert row["markdown"] == want["markdown"], url
        assert row["error"] == err, url
    assert n >= 10, n


# ---------------------------------------------------------------------------
# round 7 (corpus v17.3): classic incremental updates (spec 7.5.6)
# ---------------------------------------------------------------------------

def test_incremental_update_supersedes_draft():
    """The appended generation's content object (same id, /Prev-chained
    xref) must win over the base body's draft stream — the
    save-in-place form every signer/annotator emits.  A reader that
    resolves first-definition or reads only the stale base table would
    extract the draft."""
    pages = _two_pages()
    want = [p["markdown"] for p in pdf_extract.extract_pages(
        pdf_writer.write_pdf(pages))]
    upd = pdf_writer.write_pdf(pages, incremental_update_page=0)
    assert upd.count(b"%%EOF") == 2 and b"/Prev" in upd
    assert b"draft superseded" in upd  # the stale stream IS in the file
    got = [p["markdown"] for p in pdf_extract.extract_pages(upd)]
    assert got == want
    assert not any("draft" in m for m in got)
    # composes with a junk prefix (both v17 draws on one file)
    got2 = [p["markdown"] for p in pdf_extract.extract_pages(
        b"HTTP/1.1 200 OK\r\n\r\n" + upd)]
    assert got2 == want


def test_incremental_update_writer_contract():
    with pytest.raises(ValueError, match="classic"):
        pdf_writer.write_pdf(_two_pages(), incremental_update_page=0,
                             xref_stream=True)
    with pytest.raises(ValueError, match="range"):
        pdf_writer.write_pdf(_two_pages(), incremental_update_page=7)


def test_corpus_v17_3_emits_incremental_rows():
    """The corpus carries the incremental population and every such row
    extracts to its expected (updated) markdown, never the draft."""
    from markmuse_spark.kernel.extract import extract_document
    from markmuse_spark.golden.oracle import assemble_document
    from markmuse_spark.sources import corpus

    n = 0
    for i in range(4, 6000, 5):
        if i % 50 == 7:
            continue
        url, payload, expected, err = corpus._make_doc(i, 42)
        if expected is None or b"draft superseded" not in payload:
            continue
        n += 1
        row = extract_document(url, payload)
        want = assemble_document(url, expected)
        assert row["markdown"] == want["markdown"], url
        assert "draft superseded" not in (row["markdown"] or ""), url
    assert n >= 10, n


def test_obj_header_scan_matches_regex_reference():
    """Round-8: `_iter_obj_headers` (literal-first scan + backward tail
    parse) must report exactly what `_OBJ_RE.finditer` reports —
    (start, end, obj id) in order — including the adversarial shapes:
    long ids, long whitespace tails, `endobj`/`objx` traps, NULs (not
    re's \\s), leading zeros, and headers at the buffer edges."""
    import random

    def ref(buf):
        return [
            (m.start(), m.end(), int(m.group(1)))
            for m in pdf_extract._OBJ_RE.finditer(buf)
        ]

    cases = [
        b"", b"obj", b"12 0 obj", b"endobj", b"12 0 objx", b"xobj",
        b"012 0 obj", b"12 00 obj", b"12 0 0 obj", b"120 obj",
        b"9" * 40 + b" 0 obj", b"12" + b" " * 60 + b"0" + b"\n" * 50 + b"obj",
        b"\x000 obj", b"3\x00 0 obj", b"12\r\n0\nobj", b"1 0 obj2 0 obj",
        b"obj 0 obj", b"end obj", b"12 0 R 13 0 obj endobj 14 0 obj",
    ]
    rng = random.Random(20260822)
    toks = [b"obj", b"endobj", b" 0 obj", b"12 0 obj", b"12 0 R", b"0",
            b" ", b"\t", b"\n", b"<<>>", b"objobj", b"9 0 objQ", b"1"]
    for _ in range(1500):
        cases.append(b"".join(rng.choice(toks) for _ in range(rng.randrange(1, 25))))
    for buf in cases:
        assert pdf_extract._iter_obj_headers(buf) == ref(buf), buf[:80]


def test_a85_fast_path_matches_slow_reference():
    """Round-8: the vectorized ASCII85 decode must equal the per-group
    reference in both value and raised error text — including the
    overflow-only-from-digit-'s' groups the fast path re-verifies."""
    import base64
    import random

    def run(fn, data):
        try:
            return ("ok", fn(data))
        except ValueError as exc:
            return ("err", str(exc))

    def slow_full(data):
        # the original whole-decoder shape: slow full groups + tail
        eod = data.find(b"~")
        if eod >= 0:
            data = data[:eod]
        body = data.translate(None, pdf_extract._WS_DELETE)
        if b"z" in body:
            parts = body.split(b"z")
            for p in parts[:-1]:
                if len(p) % 5:
                    raise ValueError("ASCII85 'z' inside a group")
            body = b"!!!!!".join(parts)
        full = len(body) - len(body) % 5
        out = bytearray(pdf_extract._a85_slow(body))
        tail = body[full:]
        if tail:
            k = len(tail)
            if k == 1:
                raise ValueError("truncated ASCII85 final group")
            if min(tail) < 0x21 or max(tail) > 0x75:
                raise ValueError("bad ASCII85 byte in final group")
            g = tail + b"u" * (5 - k)
            n = sum((c - 33) * p for c, p in zip(g, pdf_extract._A85_POW))
            if n > 0xFFFFFFFF:
                raise ValueError("ASCII85 group overflow")
            out += n.to_bytes(4, "big")[: k - 1]
        return bytes(out)

    rng = random.Random(7)
    cases = [b"", b"~>", b"z", b"!!!!!", b"uuuuu", b"s8W-!", b"s8W-\"",
             b"t" * 10, b"A~>", b"hello world", b"!!!! !", b"\x7f!!!!"]
    for _ in range(200):
        raw = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 200)))
        enc = base64.a85encode(raw)
        cases.append(enc)
        cases.append(enc + b"~>")
    for _ in range(300):
        cases.append(bytes(rng.randrange(0x20, 0x7f)
                           for _ in range(rng.randrange(0, 30))))
    for data in cases:
        assert run(pdf_extract._a85_decode, data) == run(slow_full, data), data[:60]


def test_op_possessive_parity():
    """Round-8 second pass: the possessive-quantifier _OP/_TJ_PIECE must
    match the backtracking originals exactly — every starred class is
    disjoint from the pattern that must follow it (literal-string pieces
    never start with the closing paren, hex bodies never contain '>',
    digit runs never continue into whitespace), so possessiveness can
    never lose a successful parse.  Corpus shapes + adversarial fuzz."""
    import random
    import re

    old_op = re.compile(
        r"/(F\d+)\s+(\d+(?:\.\d+)?)\s+Tf"
        r"|1 0 0 1\s+(-?\d+(?:\.\d+)?)\s+(-?\d+(?:\.\d+)?)\s+Tm"
        r"|\(((?:[^()\\]|\\.)*)\)\s*Tj"
        r"|<([0-9A-Fa-f\s]*)>\s*Tj"
        r"|\[((?:\((?:[^()\\]|\\.)*\)|<[0-9A-Fa-f\s]*>|[^\[\]()<>])*)\]\s*TJ",
        re.S,
    )
    old_tj = re.compile(
        r"\(((?:[^()\\]|\\.)*)\)|<([0-9A-Fa-f\s]*)>|(-?\d+(?:\.\d+)?)", re.S
    )
    cases = [
        "BT /F1 12 Tf 1 0 0 1 72 720 Tm (Hello \\( nested) Tj ET",
        "<48656c6c6f> Tj [(a) -250 (b) <4142> 3.5 (c\\))] TJ",
        "()Tj <>Tj []TJ [(\\\\)]TJ ((unbalanced Tj",
        "(a\\)b) Tj (trail\\", "[<12>]TJ [<1]2>]TJ [| stray | bytes]TJ",
        "1 0 0 1 -3.5 -0 Tm /F22 8.25 Tf", "",
    ]
    rng = random.Random(20260822)
    alpha = list("()<>[]\\0123456789abcdefABCDEF TjTJfm/F.\n\r-")
    for _ in range(4000):
        cases.append("".join(rng.choice(alpha)
                             for _ in range(rng.randrange(0, 100))))
    for s in cases:
        assert pdf_extract._OP.findall(s) == old_op.findall(s), repr(s[:80])
        assert pdf_extract._TJ_PIECE.findall(s) == old_tj.findall(s), repr(s[:80])


def test_trailer_root_reverse_scan_parity():
    """Round-8: _trailer_root's reverse startxref scan must pick the same
    occurrence as the old forward finditer (the LAST full
    `startxref <digits>` match), across garbled tails, adjacent
    occurrences, and digit-less decoys."""
    cases = [
        b"xref\n0 1\ntrailer<</Root 1 0 R>>startxref\n99\n%%EOF",
        b"startxref 5 junk startxref\nnodigits",        # last lacks digits
        b"startxrefstartxref 42",                        # adjacent
        b"no trailer here at all",
        b"startxref\n\n  777\n%%EOF",
        b"startxref junk startxref 12 startxref x",
        b"",
    ]
    for blanked in cases:
        last = None
        for last in pdf_extract._STARTXREF_RE.finditer(blanked):
            pass
        expect = int(last.group(1)) if last is not None else None
        pos = len(blanked)
        got = None
        while True:
            pos = blanked.rfind(b"startxref", 0, pos)
            if pos < 0:
                break
            m = pdf_extract._STARTXREF_RE.match(blanked, pos)
            if m is not None:
                got = int(m.group(1))
                break
        assert got == expect, blanked
