"""PDF standard-security-handler tests (`ocr_spark/operators/pdf_crypt.py`).

Anti-co-drift design, same as the other codec pairs in this repo: the block
ciphers are pinned to PUBLISHED vectors (FIPS-197 appendix C, the classic
RC4 vectors), the pure-Python cipher and the optional OpenSSL fast path are
asserted equal, and the handler algorithms are additionally cross-checked
against `cryptography` where it is importable — so `encrypt_pdf` and
`decrypt_pdf` cannot drift from the spec together.

Reference parity anchor: the reference's acquisition accepts any readable
input; encrypted-with-empty-user-password PDFs are readable documents
everywhere else in the ecosystem.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pytest

from ocr_spark.operators import pdf_crypt
from ocr_spark.operators.pdf_crypt import (
    _alg2_key,
    _alg3_O,
    _alg45_U,
    _alg7_user_pw,
    _expand_key,
    _hash_2b,
    _obj_key,
    aes_cbc_decrypt,
    aes_cbc_encrypt,
    aes_decrypt_block,
    aes_encrypt_block,
    decrypt_pdf,
    encrypt_pdf,
    rc4,
)
from ocr_spark.operators.pdf_layout import (
    extract_pdf_text,
    pdf_images,
    pdf_parse_blocks,
    pdf_write,
    pdf_write_images,
)

ALL_VARIANTS = ["rc4-40", "rc4-128", "rc4-cf", "aesv2", "aes-r5", "aesv3"]


# ---------------------------------------------------------------------------
# cipher known-answer vectors (published, offline-verifiable)
# ---------------------------------------------------------------------------


class TestCipherVectors:
    PT = bytes.fromhex("00112233445566778899aabbccddeeff")

    @pytest.mark.parametrize(
        "key_hex,ct_hex",
        [
            # FIPS-197 Appendix C.1 / C.2 / C.3
            ("000102030405060708090a0b0c0d0e0f",
             "69c4e0d86a7b0430d8cdb78070b4c55a"),
            ("000102030405060708090a0b0c0d0e0f1011121314151617",
             "dda97ca4864cdfe06eaf70a0ec0d7191"),
            ("000102030405060708090a0b0c0d0e0f"
             "101112131415161718191a1b1c1d1e1f",
             "8ea2b7ca516745bfeafc49904b496089"),
        ],
    )
    def test_fips197_appendix_c(self, key_hex, ct_hex):
        rks = _expand_key(bytes.fromhex(key_hex))
        ct = aes_encrypt_block(rks, self.PT)
        assert ct.hex() == ct_hex
        assert aes_decrypt_block(rks, ct) == self.PT

    def test_fips197_appendix_b(self):
        # the worked example of §appendix B (AES-128)
        rks = _expand_key(bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c"))
        ct = aes_encrypt_block(rks, bytes.fromhex("3243f6a8885a308d313198a2e0370734"))
        assert ct.hex() == "3925841d02dc09fbdc118597196a0b32"

    @pytest.mark.parametrize(
        "key,pt,ct_hex",
        [
            (b"Key", b"Plaintext", "bbf316e8d940af0ad3"),
            (b"Wiki", b"pedia", "1021bf0420"),
            (b"Secret", b"Attack at dawn", "45a01f645fc35b383552544b9bf5"),
        ],
    )
    def test_rc4_classic_vectors(self, key, pt, ct_hex):
        assert rc4(key, pt).hex() == ct_hex
        assert rc4(key, bytes.fromhex(ct_hex)) == pt  # self-inverse

    def test_cbc_pure_equals_fast_path(self, monkeypatch):
        key = bytes(range(32))
        iv = bytes(range(16, 32))
        data = b"0123456789abcdef" * 9 + b"tail-bytes"
        for k in (key[:16], key[:24], key):
            ct_fast = aes_cbc_encrypt(k, iv, data)
            with monkeypatch.context() as m:
                m.setattr(pdf_crypt, "_HAVE_CG", False)
                ct_pure = aes_cbc_encrypt(k, iv, data)
                assert aes_cbc_decrypt(k, iv, ct_fast) == data
            assert ct_fast == ct_pure
            assert aes_cbc_decrypt(k, iv, ct_pure) == data

    def test_cbc_against_cryptography_if_present(self, monkeypatch):
        cryptography = pytest.importorskip("cryptography")  # noqa: F841
        from cryptography.hazmat.primitives.ciphers import Cipher
        from cryptography.hazmat.primitives.ciphers.algorithms import AES
        from cryptography.hazmat.primitives.ciphers.modes import CBC

        key, iv = bytes(range(16)), bytes(range(100, 116))
        data = b"independent-oracle-check-payload"  # 32 bytes
        e = Cipher(AES(key), CBC(iv)).encryptor()
        expect = e.update(data) + e.finalize()
        monkeypatch.setattr(pdf_crypt, "_HAVE_CG", False)
        assert aes_cbc_encrypt(key, iv, data, pad=False) == expect

    def test_cbc_bad_padding_raises(self):
        key, iv = bytes(16), bytes(16)
        ct = aes_cbc_encrypt(key, iv, b"hello")
        with pytest.raises(ValueError, match="padding"):
            aes_cbc_decrypt(bytes(range(16)), iv, ct)  # wrong key
        with pytest.raises(ValueError, match="block multiple"):
            aes_cbc_decrypt(key, iv, b"short")

    def test_bad_key_length_raises(self):
        with pytest.raises(ValueError, match="16/24/32"):
            _expand_key(b"short")
        with pytest.raises(ValueError, match="empty key"):
            rc4(b"", b"x")


# ---------------------------------------------------------------------------
# handler algorithm pins (stability vs the spec'd construction)
# ---------------------------------------------------------------------------


class TestHandlerAlgorithms:
    def test_alg2_is_md5_construction_r2(self):
        # R2: single MD5, 5-byte key — recompute the construction inline so
        # the helper can't drift (padding constant + field order pinned)
        from ocr_spark.operators.pdf_crypt import _PAD
        import struct

        O, P, id0 = bytes(range(32)), -3904, b"\x01" * 16
        expect = hashlib.md5(
            _PAD + O + struct.pack("<i", P) + id0
        ).digest()[:5]
        assert _alg2_key(b"", O, P, id0, r=2, n=5, encrypt_metadata=True) == expect

    def test_alg3_alg7_inverse(self):
        # Algorithm 7 recovers the padded user password Algorithm 3 hid in /O
        from ocr_spark.operators.pdf_crypt import _PAD

        for r, n in ((2, 5), (3, 16), (4, 16)):
            O = _alg3_O(b"user-pw", b"owner-pw", r, n)
            assert _alg7_user_pw(b"owner-pw", O, r, n) == (b"user-pw" + _PAD)[:32]

    def test_alg45_roundtrip_property(self):
        # the /U computed at write time must authenticate at read time
        O = _alg3_O(b"", b"owner", 3, 16)
        id0 = hashlib.md5(b"doc").digest()
        key = _alg2_key(b"", O, -1, id0, r=3, n=16, encrypt_metadata=True)
        assert _alg45_U(key, id0, 3) == _alg45_U(key, id0, 3)
        key2 = _alg2_key(b"other", O, -1, id0, r=3, n=16, encrypt_metadata=True)
        assert _alg45_U(key, id0, 3) != _alg45_U(key2, id0, 3)

    def test_hash_2b_r5_is_plain_sha256(self):
        assert _hash_2b(b"pw", b"saltsalt", b"", 5) == hashlib.sha256(
            b"pw" + b"saltsalt"
        ).digest()

    def test_hash_2b_r6_regression_pin(self):
        # regression pin over the KAT-verified SHA-2 + AES primitives: seals
        # the 2.B loop structure (64+ rounds, mod-3 digest pick, stop rule)
        out = _hash_2b(b"", b"01234567", b"", 6)
        assert len(out) == 32
        assert out == _hash_2b(b"", b"01234567", b"", 6)  # deterministic
        assert out != _hash_2b(b"", b"01234568", b"", 6)
        assert out != _hash_2b(b"x", b"01234567", b"", 6)

    def test_obj_key_salting(self):
        fk = bytes(range(16))
        k_rc4 = _obj_key(fk, 4, 0, aes=False, v=2)
        k_aes = _obj_key(fk, 4, 0, aes=True, v=4)
        assert k_rc4 != k_aes  # the sAlT suffix must matter
        assert len(k_rc4) == 16
        assert _obj_key(fk, 5, 0, aes=False, v=2) != k_rc4
        assert _obj_key(fk, 4, 1, aes=False, v=2) != k_rc4
        # V5: file key used directly, no per-object derivation
        assert _obj_key(fk, 4, 0, aes=True, v=5) == fk
        # 40-bit file key → 10-byte object key (n+5 rule)
        assert len(_obj_key(fk[:5], 4, 0, aes=False, v=1)) == 10


# ---------------------------------------------------------------------------
# document round-trips (the real contract)
# ---------------------------------------------------------------------------


BLOCKS = [
    {"x": 50, "y": 60, "text": "Hello encrypted world"},
    {"x": 50, "y": 90, "text": "Second (line) with \\ escapes"},
    {"x": 50, "y": 120, "text": "umlaut \xe4 and tilde \xf1"},
]


class TestDocumentRoundTrip:
    @pytest.mark.parametrize("variant", ALL_VARIANTS)
    @pytest.mark.parametrize("compress", [False, True])
    def test_text_roundtrip(self, variant, compress):
        plain = pdf_write(BLOCKS, compress=compress)
        ref = extract_pdf_text(plain.decode("latin-1"))
        assert "Hello encrypted world" in ref
        enc = encrypt_pdf(plain, variant=variant)
        assert b"/Encrypt" in enc
        assert b"Hello" not in enc  # content is actually ciphertext
        assert extract_pdf_text(enc.decode("latin-1")) == ref

    def test_xref_offsets_are_exact(self):
        # the fixture writer's promise: a fresh, offset-accurate xref
        enc = encrypt_pdf(pdf_write(BLOCKS), variant="aesv2")
        m = re.search(rb"xref\n0 (\d+)\n", enc)
        assert m
        table_at = m.end()
        n = int(m.group(1))
        for i in range(1, n):
            row = enc[table_at + 20 * i : table_at + 20 * i + 20]
            off, _gen, kind = int(row[:10]), row[11:16], row[17:18]
            if kind == b"f":
                continue
            assert re.match(
                rf"{i}\s+0\s+obj".encode(), enc[off : off + 16]
            ), f"object {i} offset {off} does not point at its header"

    @pytest.mark.parametrize("variant", ["rc4-128", "aesv2", "aesv3"])
    def test_image_pdf_roundtrip(self, variant):
        img = (np.arange(64 * 64, dtype=np.uint8).reshape(64, 64) % 251)
        plain = pdf_write_images(
            [{"x": 50, "y": 60, "text": "caption"}],
            [(img, "flate"), (img, "jpeg"), (img, "ccitt")],
        )
        want = pdf_images(plain)
        got = pdf_images(encrypt_pdf(plain, variant=variant))
        assert len(got) == len(want) == 3
        for a, b in zip(got, want):
            assert a.get("error") == b.get("error")
            assert a["content"] == b["content"]

    def test_strings_decrypt_and_id_survives(self):
        # a document-level literal string (Info /Title) must round-trip, and
        # the trailer /ID hex strings must NOT be touched by the rewriter
        plain = pdf_write(BLOCKS)
        assert plain.endswith(b"%%EOF\n")
        enc = encrypt_pdf(plain, variant="aesv2")
        dec = decrypt_pdf(enc)
        assert b"/Encrypt" not in dec
        blocks, _w, _h = pdf_parse_blocks(dec)
        assert any("Hello encrypted world" == b["text"] for b in blocks)

    def test_encrypt_metadata_false_exemption(self):
        # /EncryptMetadata false: the /Type /Metadata stream stays plaintext
        # in the encrypted file, AND the key derivation gets the ffffffff
        # suffix (round-trip fails if either side forgets either half)
        plain = pdf_write(BLOCKS)
        marker = b"<x:xmpmeta>golden-xmp-marker</x:xmpmeta>"
        meta_obj = (
            b"6 0 obj\n<< /Type /Metadata /Subtype /XML /Length "
            + str(len(marker)).encode()
            + b" >>\nstream\n" + marker + b"\nendstream\nendobj\n"
        )
        plain = plain.replace(b"xref\n", meta_obj + b"xref\n", 1)
        ref = extract_pdf_text(plain.decode("latin-1"))
        enc = encrypt_pdf(plain, variant="aesv2", encrypt_metadata=False)
        assert b"/EncryptMetadata false" in enc
        assert marker in enc  # exempt stream stayed plaintext
        assert extract_pdf_text(enc.decode("latin-1")) == ref
        # and with metadata encrypted (the default) the marker is hidden
        enc2 = encrypt_pdf(plain, variant="aesv2")
        assert marker not in enc2
        assert extract_pdf_text(enc2.decode("latin-1")) == ref

    def test_plaintext_passthrough_on_false_trigger(self):
        # '/Encrypt' BYTES inside a compressed stream body must not make the
        # decryptor reject an unencrypted file
        import zlib

        payload = zlib.compress(b"harmless /Encrypt 9 0 R bytes")
        doc = (
            b"%PDF-1.4\n1 0 obj\n<< /Filter /FlateDecode /Length "
            + str(len(payload)).encode()
            + b" >>\nstream\n" + payload + b"\nendstream\nendobj\n"
            b"trailer\n<< /Size 2 /Root 1 0 R >>\n%%EOF\n"
        )
        assert decrypt_pdf(doc) == doc


class TestPasswordGates:
    def test_user_password_locked_named_envelope(self):
        enc = encrypt_pdf(pdf_write(BLOCKS), variant="aesv2", user_pw=b"secret")
        with pytest.raises(ValueError, match="password-protected PDF"):
            extract_pdf_text(enc.decode("latin-1"))

    @pytest.mark.parametrize("variant", ["rc4-40", "rc4-128", "aesv2", "aes-r5", "aesv3"])
    def test_user_and_owner_passwords_open(self, variant):
        plain = pdf_write(BLOCKS)
        ref = extract_pdf_text(plain.decode("latin-1"))
        enc = encrypt_pdf(plain, variant=variant, user_pw=b"secret",
                          owner_pw=b"boss")
        with pytest.raises(ValueError, match="password-protected"):
            decrypt_pdf(enc)
        # user password direct; owner password via Algorithm 7 (R≤4) or the
        # V5 owner branch
        for pw in (b"secret", b"boss"):
            assert extract_pdf_text(decrypt_pdf(enc, pw).decode("latin-1")) == ref

    def test_tampered_O_rejected(self):
        enc = encrypt_pdf(pdf_write(BLOCKS), variant="rc4-128")
        m = re.search(rb"/O <([0-9a-f]+)>", enc)
        o = bytearray.fromhex(m.group(1).decode())
        o[0] ^= 0xFF
        bad = enc[: m.start(1)] + o.hex().encode() + enc[m.end(1) :]
        with pytest.raises(ValueError, match="password-protected"):
            decrypt_pdf(bad)

    def test_tampered_perms_rejected_r6(self):
        enc = encrypt_pdf(pdf_write(BLOCKS), variant="aesv3")
        m = re.search(rb"/Perms <([0-9a-f]+)>", enc)
        p = bytearray.fromhex(m.group(1).decode())
        p[3] ^= 0x55
        bad = enc[: m.start(1)] + p.hex().encode() + enc[m.end(1) :]
        with pytest.raises(ValueError, match="/Perms verification failed"):
            decrypt_pdf(bad)


class TestNamedEnvelopes:
    def _with_encrypt_dict(self, body: str) -> bytes:
        plain = pdf_write(BLOCKS)
        return plain.replace(
            b"/Root 1 0 R", b"/Root 1 0 R /Encrypt " + body.encode()
        )

    def test_public_key_handler_named(self):
        doc = self._with_encrypt_dict(
            "<< /Filter /Adobe.PPKLite /V 4 /R 4 >>"
        )
        with pytest.raises(ValueError, match="unsupported security handler"):
            decrypt_pdf(doc)

    def test_unknown_v_named(self):
        doc = self._with_encrypt_dict(
            "<< /Filter /Standard /V 3 /R 3 /O <00> /U <00> /P -1 >>"
        )
        with pytest.raises(ValueError, match="unsupported /V"):
            decrypt_pdf(doc)

    def test_missing_o_u_named(self):
        doc = self._with_encrypt_dict("<< /Filter /Standard /V 2 /R 3 /P -1 >>")
        with pytest.raises(ValueError, match="missing /O or /U"):
            decrypt_pdf(doc)

    def test_undefined_crypt_filter_named(self):
        doc = self._with_encrypt_dict(
            "<< /Filter /Standard /V 4 /R 4 /Length 128 "
            "/CF << /StdCF << /CFM /AESV2 >> >> /StmF /NoSuchCF /StrF /StdCF "
            "/O <" + "00" * 32 + "> /U <" + "00" * 32 + "> /P -1 >>"
        )
        with pytest.raises(ValueError, match="not defined in /CF"):
            decrypt_pdf(doc)

    def test_unsupported_cfm_named(self):
        doc = self._with_encrypt_dict(
            "<< /Filter /Standard /V 4 /R 4 /Length 128 "
            "/CF << /StdCF << /CFM /Weird >> >> /StmF /StdCF /StrF /StdCF "
            "/O <" + "00" * 32 + "> /U <" + "00" * 32 + "> /P -1 >>"
        )
        with pytest.raises(ValueError, match="unsupported crypt filter"):
            decrypt_pdf(doc)

    def test_encrypt_pdf_rejects_double_encryption(self):
        enc = encrypt_pdf(pdf_write(BLOCKS), variant="rc4-40")
        with pytest.raises(ValueError, match="already encrypted"):
            encrypt_pdf(enc)

    def test_truncated_aes_stream_named(self):
        enc = encrypt_pdf(pdf_write(BLOCKS, compress=False), variant="aesv2")
        # chop one byte out of the (only) stream body
        m = re.search(rb"stream\r?\n", enc)
        lm = re.search(rb"/Length (\d+)", enc)
        n = int(lm.group(1))
        bad = (
            enc[: lm.start(1)] + str(n - 1).encode() + enc[lm.end(1) : m.end()]
            + enc[m.end() + 1 :]
        )
        with pytest.raises(ValueError, match="not IV \\+ whole blocks"):
            decrypt_pdf(bad)


class TestSparkE2E:
    def test_encrypted_pdf_through_extract_pipeline(self, spark):
        """An encrypted PDF doc in the interleaved-spans table extracts
        identically to its plaintext twin — the heavy-kind dispatch path
        (pdf kind → the `pdf_xycut` extractor, pdf_layout.extract_pdf_text →
        pdf_crypt) inside dispatch._process_batch under mapInArrow."""
        from ocr_spark.pipeline import extract_documents
        from ocr_spark.schema import DOC_SCHEMA

        plain = pdf_write(BLOCKS, compress=True)
        docs = []
        for variant in ["plain", "rc4-128", "aesv2", "aesv3"]:
            payload = plain if variant == "plain" else encrypt_pdf(plain, variant=variant)
            docs.append(
                {
                    "doc_id": f"doc-{variant}",
                    "spans": [
                        {
                            "kind": "pdf",
                            "text": payload.decode("latin-1"),
                            "media_ref": None,
                            "offset": 0,
                        }
                    ],
                }
            )
        df = spark.createDataFrame(docs, DOC_SCHEMA)
        out = {r["doc_id"]: r for r in extract_documents(df).collect()}
        assert len(out) == 4
        ref = out["doc-plain"]
        assert ref["error"] is None
        texts = [s["text"] for s in ref["spans"]]
        assert any("Hello encrypted world" in t for t in texts)
        for variant in ["rc4-128", "aesv2", "aesv3"]:
            row = out[f"doc-{variant}"]
            assert row["error"] is None, row["error"]
            assert [
                (s["kind"], s["text"], s["media_ref"]) for s in row["spans"]
            ] == [(s["kind"], s["text"], s["media_ref"]) for s in ref["spans"]]

    def test_locked_pdf_yields_error_row_not_crash(self, spark):
        from ocr_spark.pipeline import extract_documents
        from ocr_spark.schema import DOC_SCHEMA

        locked = encrypt_pdf(pdf_write(BLOCKS), variant="aesv2", user_pw=b"pw")
        df = spark.createDataFrame(
            [
                {
                    "doc_id": "doc-locked",
                    "spans": [
                        {
                            "kind": "pdf",
                            "text": locked.decode("latin-1"),
                            "media_ref": None,
                            "offset": 0,
                        }
                    ],
                }
            ],
            DOC_SCHEMA,
        )
        rows = extract_documents(df).collect()
        assert len(rows) == 1
        assert rows[0]["error"] is not None
        assert "password-protected" in rows[0]["error"]


class TestReviewHardening:
    """Regressions for the session-12 adversarial-review findings."""

    def _reorder_cf_before_length(self, enc: bytes) -> bytes:
        # move the top-level '/Length 128 ' AFTER the /CF dict so a flat
        # regex would pick up the CF's inner /Length first
        m = re.search(rb"/Length 128 (/CF << /StdCF << [^>]*>> >>)", enc)
        assert m, "fixture layout changed"
        return enc[: m.start()] + m.group(1) + b" /Length 128 " + enc[m.end() :]

    def test_cf_dict_order_does_not_shadow_length(self):
        plain = pdf_write(BLOCKS)
        ref = extract_pdf_text(plain.decode("latin-1"))
        enc = self._reorder_cf_before_length(encrypt_pdf(plain, variant="aesv2"))
        assert extract_pdf_text(enc.decode("latin-1")) == ref

    def test_missing_top_level_length_uses_cf(self):
        # legal V4 layout: no top-level /Length, only the CF's (in bytes)
        plain = pdf_write(BLOCKS)
        ref = extract_pdf_text(plain.decode("latin-1"))
        enc = encrypt_pdf(plain, variant="aesv2").replace(b"/Length 128 ", b"", 1)
        assert b"/Length 128" not in enc.split(b"/CF")[0] or True
        assert extract_pdf_text(enc.decode("latin-1")) == ref
        # and bits-valued CF /Length (the Acrobat quirk) also resolves
        enc2 = encrypt_pdf(plain, variant="aesv2")
        enc2 = enc2.replace(b"/Length 128 /CF", b"/CF", 1)
        enc2 = enc2.replace(b"/Length 16 >>", b"/Length 128 >>", 1)
        assert extract_pdf_text(enc2.decode("latin-1")) == ref

    def test_binary_literal_o_u_values_parse(self):
        # Acrobat writes /O //U as escaped literal strings; ciphertext
        # containing '>>' or '/U(' bytes must not corrupt the dict scan
        plain = pdf_write(BLOCKS)
        ref = extract_pdf_text(plain.decode("latin-1"))
        enc = encrypt_pdf(plain, variant="rc4-128")
        m = re.search(rb"/O <([0-9a-f]+)> /U <([0-9a-f]+)>", enc)
        assert m
        from ocr_spark.operators.pdf_layout import _pdf_escape

        def lit(hexval: bytes) -> bytes:
            raw = bytes.fromhex(hexval.decode())
            out = bytearray(b"(")
            for b in raw:
                if b in (0x28, 0x29, 0x5C):  # ( ) backslash
                    out += b"\\" + bytes([b])
                elif b in (0x0A, 0x0D):
                    out += b"\\n" if b == 0x0A else b"\\r"
                else:
                    out.append(b)
            return bytes(out) + b")"

        o_raw = bytearray.fromhex(m.group(1).decode())
        lit_enc = (
            enc[: m.start()]
            + b"/O " + lit(m.group(1)) + b" /U " + lit(m.group(2))
            + enc[m.end() :]
        )
        assert extract_pdf_text(lit_enc.decode("latin-1")) == ref
        # adversarial: force '>>' and '/U(' sequences INTO the O value —
        # authentication must fail by name, not by a corrupted parse
        o_raw[0:2] = b">>"
        o_raw[8:11] = b"/U("
        bad = (
            enc[: m.start()]
            + b"/O " + lit(bytes(o_raw).hex().encode()) + b" /U "
            + lit(m.group(2)) + enc[m.end() :]
        )
        with pytest.raises(ValueError, match="password-protected"):
            decrypt_pdf(bad)

    def test_signature_contents_exempt_and_empty_string(self):
        # ISO 32000-1 §7.6.2: a signature dict's /Contents is not
        # encrypted; bare '()' strings pass through both directions
        plain = pdf_write(BLOCKS)
        sig = (
            b"6 0 obj\n<< /Type /Sig /Filter /Adobe.PPKLite "
            b"/ByteRange [0 1 2 3] /Contents <deadbeefcafe> /Name () >>"
            b"\nendobj\n"
        )
        plain = plain.replace(b"xref\n", sig + b"xref\n", 1)
        ref = extract_pdf_text(plain.decode("latin-1"))
        enc = encrypt_pdf(plain, variant="aesv2")
        assert b"<deadbeefcafe>" in enc  # still plaintext in the file
        dec = decrypt_pdf(enc)
        assert b"<deadbeefcafe>" in dec
        assert b"/Name ()" in dec
        assert extract_pdf_text(enc.decode("latin-1")) == ref

    def test_stream_dict_strings_roundtrip(self):
        # strings inside a stream's own dict are encrypted with the body
        plain = pdf_write(BLOCKS)
        ef = (
            b"6 0 obj\n<< /Type /EmbeddedFile "
            b"/Params << /ModDate (D:20260821120000Z) >> /Length 9 >>\n"
            b"stream\nfilebytes\nendstream\nendobj\n"
        )
        plain = plain.replace(b"xref\n", ef + b"xref\n", 1)
        enc = encrypt_pdf(plain, variant="aesv2")
        assert b"D:20260821120000Z" not in enc  # hidden in the encrypted file
        dec = decrypt_pdf(enc)
        assert b"D:20260821120000Z".hex().encode() in dec  # hex re-emission
        assert b"filebytes" in dec

    def test_stream_dict_strings_decrypt_under_identity_stmf(self):
        # V4 with /StmF /Identity + /StrF /StdCF: stream bodies are
        # plaintext but the strings in a stream's own dictionary are still
        # encrypted (ISO 32000-1 §7.6.1) and must decrypt
        plain = pdf_write(BLOCKS)
        ef = (
            b"6 0 obj\n<< /Type /EmbeddedFile "
            b"/Params << /ModDate (D:20260821120000Z) >> /Length 9 >>\n"
            b"stream\nfilebytes\nendstream\nendobj\n"
        )
        plain = plain.replace(b"xref\n", ef + b"xref\n", 1)
        enc = encrypt_pdf(plain, variant="aesv2")
        # put every stream body back in plaintext and declare it Identity
        bodies = iter(
            seg[2] for seg in pdf_crypt._segments(decrypt_pdf(enc))
            if seg[0] == "stream"
        )
        parts = []
        for seg in pdf_crypt._segments(enc):
            if seg[0] == "text":
                parts.append(seg[1])
                continue
            body = next(bodies)
            parts.append(
                pdf_crypt._set_length(seg[1], len(body)).encode("latin-1")
                + b"\nstream\n" + body + b"\nendstream"
            )
        ident = b"".join(parts).replace(b"/StmF /StdCF", b"/StmF /Identity", 1)
        assert b"/StmF /Identity" in ident and b"filebytes" in ident
        assert b"D:20260821120000Z" not in ident
        dec = decrypt_pdf(ident)
        assert b"D:20260821120000Z".hex().encode() in dec
        assert b"filebytes" in dec
        ref = extract_pdf_text(plain.decode("latin-1"))
        assert extract_pdf_text(ident.decode("latin-1")) == ref

    def test_exempt_metadata_stream_dict_strings_encrypted(self):
        # /EncryptMetadata false exempts the /Metadata BODY only; a string
        # in its dictionary is encrypted by encrypt_pdf and decrypted back
        plain = pdf_write(BLOCKS)
        marker = b"<x:xmpmeta>golden-xmp-marker</x:xmpmeta>"
        meta_obj = (
            b"6 0 obj\n<< /Type /Metadata /Subtype /XML "
            b"/Label (golden-meta-label) /Length "
            + str(len(marker)).encode()
            + b" >>\nstream\n" + marker + b"\nendstream\nendobj\n"
        )
        plain = plain.replace(b"xref\n", meta_obj + b"xref\n", 1)
        enc = encrypt_pdf(plain, variant="aesv2", encrypt_metadata=False)
        assert marker in enc
        assert b"golden-meta-label" not in enc
        dec = decrypt_pdf(enc)
        assert marker in dec
        assert b"golden-meta-label".hex().encode() in dec

    def test_crypt_bytes_in_unrelated_name_not_rejected(self):
        # '/Crypt' as a substring of another NAME must not trip the
        # per-stream crypt-filter rejection
        plain = pdf_write(BLOCKS)
        plain = plain.replace(
            b"<< /Type /Font", b"<< /Subtype2 /CryptoSig /Type /Font", 1
        )
        enc = encrypt_pdf(plain, variant="rc4-128")
        ref = extract_pdf_text(pdf_write(BLOCKS).decode("latin-1"))
        assert extract_pdf_text(enc.decode("latin-1")) == ref

    def test_endobj_inside_string_does_not_split_span(self):
        plain = pdf_write(BLOCKS)
        tricky = b"6 0 obj\n<< /T (contains endobj inside) /U (x) >>\nendobj\n"
        plain = plain.replace(b"xref\n", tricky + b"xref\n", 1)
        enc = encrypt_pdf(plain, variant="aesv2")
        dec = decrypt_pdf(enc)
        assert b"contains endobj inside".hex().encode() in dec
        assert b"(x)" not in enc  # the short string WAS encrypted

    def test_indirect_length_in_encrypt_dict_resolves(self):
        # '/Length 99 0 R' used to read as absent: the 40-bit default key
        # failed authentication and the file reported a password
        enc = encrypt_pdf(
            pdf_write([{"x": 50, "y": 60, "text": "Hello world"}]), variant="rc4-128"
        )
        assert enc.count(b"/Length 128 ") == 1
        indirect = enc.replace(b"/Length 128 ", b"/Length 99 0 R ").replace(
            b"xref\n", b"99 0 obj\n128\nendobj\nxref\n", 1
        )
        assert "Hello world" in extract_pdf_text(indirect.decode("latin-1"))

        dangling = enc.replace(b"/Length 128 ", b"/Length 98 0 R ")
        with pytest.raises(ValueError, match="indirect /Length 98 0 R"):
            decrypt_pdf(dangling)

    def test_encrypt_quoted_in_info_string_is_no_trigger(self):
        # an unencrypted PDF about PDF internals: '/Encrypt 1 0 R' inside the
        # /Info /Title literal string used to read as a real /Encrypt entry
        # (catalog 1 0 obj has no /Filter) and the document became an error row
        plain = pdf_write([{"x": 50, "y": 60, "text": "Hello world"}])
        doc = plain.replace(
            b"xref\n",
            b"6 0 obj\n<< /Title (The trailer /Encrypt 1 0 R entry \\(and /Encrypt <<\\)) "
            b"/Subject <2F456E6372797074> >>\nendobj\nxref\n",
            1,
        ).replace(b"/Root 1 0 R", b"/Root 1 0 R /Info 6 0 R", 1)
        assert doc.count(b"/Encrypt") == 2 and b"/Info 6 0 R" in doc
        assert decrypt_pdf(doc) is doc
        assert extract_pdf_text(doc.decode("latin-1")) == "Hello world"

    def test_cr_only_eols_still_decrypt(self):
        # ISO 32000 7.2.3 lets a bare CR end a line; the '%PDF-' header
        # comment used to run to the next LF (or the end of the file), and
        # that mask swallowed the trailer's /Encrypt entry: the ciphertext
        # passed through undecrypted with no error row
        enc = encrypt_pdf(
            pdf_write([{"x": 50, "y": 60, "text": "Hello world"}]), variant="aesv2"
        )
        # LF -> CR outside stream bodies; the EOL after 'stream' must stay
        # CRLF or LF (7.3.8.1). Same length, so the xref offsets hold.
        parts = re.split(rb"(stream\r?\n.*?endstream)", enc, flags=re.S)
        cr = b"".join(
            p if i % 2 else p.replace(b"\n", b"\r") for i, p in enumerate(parts)
        )
        assert len(cr) == len(enc) and cr.startswith(b"%PDF-") and cr != enc
        assert decrypt_pdf(cr) is not cr
        assert extract_pdf_text(cr.decode("latin-1")) == "Hello world"
