"""Tests for the optional extraction kinds E13 (rtf), E14 (xls), E15 (email),
E16 (msg — synthetic CFB fixtures built against the public [MS-CFB] layout),
and their dispatch wiring (reference registry bytes_xtractor.py:73-83)."""

from __future__ import annotations

import json

import pandas as pd

from ocr_search_spark.kernels.dispatch import extract_texts
from ocr_search_spark.kernels.email_extract import eml_to_text
from ocr_search_spark.kernels.msg_extract import msg_to_text
from ocr_search_spark.kernels.reference_impl import extract_span_text
from ocr_search_spark.kernels.rtf_extract import rtf_to_text
from ocr_search_spark.kernels.xls_extract import xls_to_text


class TestRtf:
    def test_basic(self):
        rtf = r"{\rtf1\ansi{\fonttbl{\f0 Arial;}}Hello \b world\b0\par second line}"
        assert rtf_to_text(rtf) == "Hello world\nsecond line"

    def test_hex_and_unicode_escapes(self):
        assert rtf_to_text(r"{\rtf1 \'cf\'f0\'e8\'e2\'e5\'f2}") == "Привет"
        assert rtf_to_text("{\\rtf1 \\u1055?\\u1088?}") == "Пр"

    def test_starred_and_destination_groups_dropped(self):
        rtf = r"{\rtf1{\*\generator LibreOffice}{\info{\title t}}visible\tab x}"
        assert rtf_to_text(rtf) == "visible\tx"

    def test_escaped_braces(self):
        assert rtf_to_text(r"{\rtf1 a\{b\}c\\d}") == r"a{b}c\d"

    def test_not_rtf(self):
        assert rtf_to_text("plain text") == ""
        assert rtf_to_text("") == ""


class TestXls:
    def test_template(self):
        payload = json.dumps(
            {"sheets": {"Лист1": [["a", 1], ["b", 2]], "S2": [["x"]]}}
        )
        assert xls_to_text(payload) == (
            "=== Лист: Лист1 ===\n\na\t1\nb\t2\n\n\n=== Лист: S2 ===\n\nx"
        )

    def test_bad_payload(self):
        assert xls_to_text("not json") == ""
        assert xls_to_text("") == ""


class TestEmail:
    EML = (
        "From: alice@corp.ru\r\n"
        "To: bob@x.io\r\n"
        "Cc: carol@x.io\r\n"
        "Subject: Test subject\r\n"
        "Date: Mon, 01 Jul 2024 10:00:00 +0300\r\n"
        "Content-Type: text/plain; charset=utf-8\r\n"
        "\r\n"
        "Body line 1\r\nBody line 2\r\n"
    )

    def test_template(self):
        out = eml_to_text(self.EML)
        lines = out.split("\n")
        assert lines[0] == "Тема: Test subject"
        assert lines[1] == "От  : alice@corp.ru"  # literal double space
        assert lines[2] == "Кому: bob@x.io"
        assert lines[3] == "Копия: carol@x.io"
        assert lines[4].startswith("Дата: Mon, 01 Jul 2024")
        assert "Тело письма:\nBody line 1" in out

    def test_html_body_fallback(self):
        eml = (
            "From: a@b.c\r\nSubject: s\r\n"
            "Content-Type: text/html; charset=utf-8\r\n\r\n"
            "<html><body><p>para</p></body></html>\r\n"
        )
        assert "para" in eml_to_text(eml)

    def test_garbage(self):
        assert eml_to_text("") == ""


class TestEmailFastParity:
    """The fast scanner (hot path) must match the stdlib parser (golden
    path) byte-for-byte on every shape the corpus emits, and must bail to
    the stdlib parser — thereby staying equal by construction — on
    structures it doesn't model."""

    CASES = [
        TestEmail.EML,
        # CRLF vs LF, folded header, no Cc, no Date
        "From: a@b.c\nTo: t@u.v\nSubject: folded\n subject tail\n\nbody\n",
        # RFC2047 subject + 8bit utf-8 body
        (
            "Subject: =?utf-8?b?0YHRh9GR0YIg0L7Qv9C70LDRgtCw?=\n"
            "From: user1@corp.ru\nTo: user2@x.io\n"
            "Date: Mon, 10 Apr 2025 12:30:00 +0300\n"
            "Content-Type: text/plain; charset=utf-8\n"
            "Content-Transfer-Encoding: 8bit\n\n"
            "привет мир\n"
        ),
        # wrong weekday -> DateHeader re-render parity
        (
            "Subject: s\nFrom: a@b.c\nTo: t@u.v\n"
            "Date: Mon, 10 Apr 2025 15:55:00 +0300\n\nbody\n"
        ),
        # html-only body
        (
            "From: a@b.c\nSubject: s\n"
            "Content-Type: text/html; charset=utf-8\n\n"
            "<html><body><p>para</p><div>конец</div></body></html>\n"
        ),
        # quoted-printable body
        (
            "From: a@b.c\nSubject: qp\n"
            "Content-Type: text/plain; charset=utf-8\n"
            "Content-Transfer-Encoding: quoted-printable\n\n"
            "caf=C3=A9 line\n"
        ),
        # multipart with attachment (the corpus shape)
        (
            "Subject: m\nFrom: a@b.c\nTo: t@u.v\nMIME-Version: 1.0\n"
            'Content-Type: multipart/mixed; boundary="bX"\n\n'
            "--bX\nContent-Type: text/plain; charset=utf-8\n"
            "Content-Transfer-Encoding: 8bit\n\nhello body\n"
            '--bX\nContent-Type: application/pdf; name="r.pdf"\n'
            'Content-Disposition: attachment; filename="r.pdf"\n'
            "Content-Transfer-Encoding: base64\n\nJVBERi0=\n--bX--\n"
        ),
        # multipart, html part only + unnamed attachment
        (
            "Subject: m2\nFrom: a@b.c\n"
            'Content-Type: multipart/mixed; boundary="bY"\n\n'
            "--bY\nContent-Type: text/html; charset=utf-8\n\n<p>hi</p>\n"
            "--bY\nContent-Type: application/octet-stream\n"
            "Content-Disposition: attachment\n\nAAAA\n--bY--\n"
        ),
        # structured address (display name) -> fast path bails, still equal
        (
            'From: "Alice A" <alice@corp.ru>\nTo: bob@x.io\nSubject: s\n\nb\n'
        ),
        # nested multipart -> bail, still equal
        (
            "Subject: n\nFrom: a@b.c\n"
            'Content-Type: multipart/mixed; boundary="o"\n\n'
            '--o\nContent-Type: multipart/alternative; boundary="i"\n\n'
            "--i\nContent-Type: text/plain\n\ninner\n--i--\n--o--\n"
        ),
        # unknown transfer encoding -> bail, still equal
        (
            "Subject: u\nFrom: a@b.c\n"
            "Content-Transfer-Encoding: x-uuencode\n\nstuff\n"
        ),
        # no headers at all
        "\njust a body\n",
        "",
        # malformed header names -> stdlib treats the line as body start
        "\x08:\n\n",
        "bad name: v\nSubject: s\n\nb\n",
        "Name : v\n\nb\n",
        ":empty\n\nb\n",
        "Тема: utf8-name\n\nb\n",
    ]

    def test_handwritten_cases(self):
        from ocr_search_spark.kernels.email_fast import eml_to_text_fast

        for eml in self.CASES:
            assert eml_to_text_fast(eml) == eml_to_text(eml), repr(eml[:80])

    def test_corpus_parity(self):
        from ocr_search_spark.corpus import build_document, load_base_texts
        from ocr_search_spark.kernels.email_fast import eml_to_text_fast

        base = load_base_texts("/root/testdata/sf0.001")
        n = 0
        for i in range(4000):
            doc = build_document(i, base)
            for s in doc["spans"]:
                if s["kind"] == "email":
                    assert eml_to_text_fast(s["text"]) == eml_to_text(
                        s["text"]
                    ), doc["doc_id"]
                    n += 1
        assert n > 200  # the mix actually exercised the kernel


from ocr_search_spark.kernels.cfb_build import build_cfb, build_msg


def _msg_fixture(body: str = "Hello from OLE container") -> bytes:
    from datetime import datetime, timezone

    ft = int(
        (datetime(2024, 7, 1, 10, 0, tzinfo=timezone.utc)
         - datetime(1601, 1, 1, tzinfo=timezone.utc)).total_seconds() * 10**7
    )
    return build_msg(
        subject="Test subject", sender="alice@corp.ru", to="bob@x.io",
        cc="carol@x.io", body=body, delivery_filetime=ft,
        attachments=("report.pdf",),
    )


class TestMsg:
    def test_template(self):
        out = msg_to_text(_msg_fixture())
        lines = out.split("\n")
        assert lines[0] == "Тема: Test subject"
        assert lines[1] == "От  : alice@corp.ru"  # literal double space
        assert lines[2] == "Кому: bob@x.io"
        assert lines[3] == "Копия: carol@x.io"
        assert lines[4] == "Дата: 2024-07-01 10:00:00+00:00"
        assert "Тело письма:\nHello from OLE container" in out
        assert out.endswith("Вложения:\n1. report.pdf")

    def test_large_body_uses_fat_chain(self):
        # > mini cutoff (4096 B) → regular FAT chain spanning many sectors
        body = " ".join(f"word{i}" for i in range(1200))
        out = msg_to_text(_msg_fixture(body))
        assert "Тело письма:\n" + body in out

    def test_mini_cutoff_boundary_bodies(self):
        """Bodies straddling the 4096-byte mini-stream cutoff must round-trip
        through both storage paths (UTF-16LE: 2048 chars = exactly 4096 B)."""
        for n_chars in (2047, 2048, 2049):
            body = "b" * n_chars
            out = msg_to_text(_msg_fixture(body))
            assert "Тело письма:\n" + body in out, f"lost body at {n_chars} chars"

    def test_ansi_string_property_fallback(self):
        raw = build_cfb({"__substg1.0_0037001E": "ansi subject".encode()})
        assert msg_to_text(raw).startswith("Тема: ansi subject")

    def test_garbage_and_truncated(self):
        assert msg_to_text("") == ""
        assert msg_to_text(b"not a compound file at all") == ""
        assert msg_to_text(_msg_fixture()[:700]) == ""

    def test_fuzzed_containers_never_raise(self):
        """P5 contract for a binary parser: random bytes, truncations, and
        bit-flipped valid containers return '' or a best-effort string —
        never an exception."""
        import random

        rng = random.Random(20260816)
        base = _msg_fixture()
        for _ in range(40):
            raw = bytes(rng.getrandbits(8) for _ in range(rng.randint(0, 1200)))
            assert isinstance(msg_to_text(raw), str)
        for _ in range(40):
            mutated = bytearray(base)
            for _ in range(rng.randint(1, 8)):
                mutated[rng.randrange(len(mutated))] ^= 1 << rng.randrange(8)
            assert isinstance(msg_to_text(bytes(mutated)), str)
        for cut in (0, 1, 511, 512, 513, len(base) // 2, len(base) - 1):
            assert isinstance(msg_to_text(base[:cut]), str)

    def test_fat_cycle_reads_are_file_bounded(self):
        """A crafted FAT cycle over valid in-file sectors must accumulate at
        most ~one file length, not _MAX_SECTORS × sector_size (executor-OOM
        class on the never-throw extraction path)."""
        from ocr_search_spark.kernels.msg_extract import _Cfb

        base = _msg_fixture(" ".join(f"w{i}" for i in range(1500)))
        cfb = _Cfb(base)
        cfb.fat = tuple(1 for _ in cfb.fat)  # every sector chains to sector 1
        assert len(cfb.read_chain(1)) <= len(base) + 2 * cfb.ssz
        assert len(cfb.read_chain(1, size=100)) == 100  # early stop at size

        cfb2 = _Cfb(base)
        if cfb2.minifat:
            cfb2.minifat = tuple(0 for _ in cfb2.minifat)
            out = cfb2._read_mini_chain(0, 1 << 40)
            assert len(out) <= (len(cfb2.minifat) + 2) * cfb2.mssz

        # end-to-end: rewrite the on-disk FAT sector into a cycle; kernel
        # must still return a str without ballooning
        import struct as _s

        mutated = bytearray(base)
        for off in range(512 + 4, 1024, 4):  # keep entry 0 (FATSECT)
            _s.pack_into("<I", mutated, off, 1)
        assert isinstance(msg_to_text(bytes(mutated)), str)

    def test_build_cfb_capacity_guards(self):
        """Oversized fixtures must fail loudly, not emit a silently corrupt
        container (single-FAT/single-miniFAT writer limits)."""
        import pytest

        # 20 KB of mini-stream data → 320 miniFAT entries > 128 capacity
        with pytest.raises(ValueError, match="miniFAT"):
            build_cfb({f"s{i:03d}": b"x" * 1000 for i in range(20)})
        # one 100 KB large stream → ~200 FAT entries > 128 capacity
        with pytest.raises(ValueError, match="FAT"):
            build_cfb({"big": b"y" * 100_000})

    def test_latin1_str_roundtrip(self):
        # the span text column carries binary kinds latin-1-mapped
        raw = _msg_fixture().decode("latin-1")
        assert "Тема: Test subject" in msg_to_text(raw)


class TestDispatchWiring:
    def test_vectorized_matches_scalar_for_optional_kinds(self):
        rows = [
            ("rtf", r"{\rtf1 Hello\par world}", ""),
            ("xls", json.dumps({"sheets": {"A": [["1", "2"]]}}), ""),
            ("email", TestEmail.EML, ""),
            ("msg", _msg_fixture().decode("latin-1"), ""),
            # truncated header: both email parsers raise IndexError
            ("email", "To: a@", ""),
        ]
        got, failed = extract_texts(
            pd.Series([r[0] for r in rows]),
            pd.Series([r[1] for r in rows]),
            pd.Series([r[2] for r in rows]),
        )
        got = got.to_pylist()
        assert got == [extract_span_text(*r) for r in rows]
        assert list(failed) == [False, False, False, False, True]
        assert got[0] == "Hello\nworld" or got[0] == "Hello world"
        assert got[-1] == ""


def build_xlsx(sheets: dict[str, list[list]], shared_first_cell: bool = True) -> bytes:
    """Minimal real .xlsx: stdlib zipfile + hand-authored OOXML parts.
    String cells go through sharedStrings (like real writers); numbers
    and bools are typed cells."""
    import io
    import zipfile

    strings: list[str] = []

    def sref(s: str) -> int:
        if s not in strings:
            strings.append(s)
        return strings.index(s)

    def colref(i: int) -> str:
        out = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            out = chr(65 + r) + out
        return out

    sheet_xml = {}
    for si, (name, rows) in enumerate(sheets.items(), start=1):
        body = []
        for ri, row in enumerate(rows, start=1):
            cells = []
            for ci, v in enumerate(row):
                if v is None:
                    continue  # sparse gap
                ref = f"{colref(ci)}{ri}"
                if isinstance(v, bool):
                    cells.append(f'<c r="{ref}" t="b"><v>{int(v)}</v></c>')
                elif isinstance(v, (int, float)):
                    cells.append(f'<c r="{ref}"><v>{v}</v></c>')
                else:
                    cells.append(
                        f'<c r="{ref}" t="s"><v>{sref(str(v))}</v></c>'
                    )
            body.append(f'<row r="{ri}">{"".join(cells)}</row>')
        sheet_xml[f"xl/worksheets/sheet{si}.xml"] = (
            '<worksheet xmlns="http://schemas.openxmlformats.org/'
            'spreadsheetml/2006/main"><sheetData>'
            + "".join(body)
            + "</sheetData></worksheet>"
        )

    wb_sheets = "".join(
        f'<sheet name="{n}" sheetId="{i}" r:id="rId{i}"/>'
        for i, n in enumerate(sheets, start=1)
    )
    workbook = (
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/'
        '2006/main" xmlns:r="http://schemas.openxmlformats.org/'
        f'officeDocument/2006/relationships"><sheets>{wb_sheets}</sheets>'
        "</workbook>"
    )
    rels = (
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
        '2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{i}" Type="http://schemas.'
            'openxmlformats.org/officeDocument/2006/relationships/'
            f'worksheet" Target="worksheets/sheet{i}.xml"/>'
            for i in range(1, len(sheets) + 1)
        )
        + "</Relationships>"
    )
    sst = (
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/'
        f'main" count="{len(strings)}" uniqueCount="{len(strings)}">'
        + "".join(f"<si><t>{s}</t></si>" for s in strings)
        + "</sst>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", rels)
        zf.writestr("xl/sharedStrings.xml", sst)
        for part, xml in sheet_xml.items():
            zf.writestr(part, xml)
    return buf.getvalue()


class TestXlsxBinary:
    """Real .xlsx through the pure-stdlib OOXML reader (E14 binary path)."""

    def test_template_and_cell_types(self):
        from ocr_search_spark.kernels.xlsx_extract import xlsx_to_text

        raw = build_xlsx(
            {
                "Лист1": [["итог", 3655, True], ["x", None, "y"]],
                "Data": [[1.5, "b"]],
            }
        )
        out = xlsx_to_text(raw)
        # identical template shape to the JSON-convention twin (xls.py
        # parity: header, blank line, TSV with trailing newline, sheets
        # joined by \n\n, final strip) — sparse gap padded like pandas NaN
        assert out == (
            "=== Лист: Лист1 ===\n\n"
            "итог\t3655\tTrue\nx\t\ty\n"
            "\n\n=== Лист: Data ===\n\n1.5\tb"
        )

    def test_latin1_mapped_str_input(self):
        from ocr_search_spark.kernels.xlsx_extract import xlsx_to_text

        raw = build_xlsx({"S": [["a"]]})
        assert xlsx_to_text(raw.decode("latin-1")) == xlsx_to_text(raw)

    def test_corrupt_returns_empty(self):
        from ocr_search_spark.kernels.xlsx_extract import xlsx_to_text

        assert xlsx_to_text(b"PK\x03\x04 garbage") == ""
        assert xlsx_to_text(b"") == ""

    def test_combined_entry_routes_by_magic(self):
        from ocr_search_spark.kernels.xls_extract import xls_any_to_text

        raw = build_xlsx({"S": [["hello", 7]]})
        assert "=== Лист: S ===" in xls_any_to_text(raw.decode("latin-1"))
        # JSON convention still works through the combined entry
        assert "Лист: J" in xls_any_to_text(
            '{"sheets": {"J": [["a", 1]]}}'
        )
        # legacy BIFF container -> "" (unsupported, P5)
        assert xls_any_to_text("\xd0\xcf\x11\xe0rest") == ""
