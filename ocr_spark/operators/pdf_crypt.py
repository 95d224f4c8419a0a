"""PDF standard-security-handler decryption — ISO 32000-1 §7.6 / 32000-2 §7.6.

Closes the last PDF acquisition envelope (reference parity: the reference's
acquisition accepts any readable input; encrypted-but-open PDFs — the
overwhelmingly common "owner password only, empty user password" case —
are readable documents). A large crawl meets these constantly: the
content is world-readable, only the permission bits are owner-protected,
and every real extractor (pdfium, poppler, pdfminer) decrypts them
transparently. This module does the same from the published spec, pure
stdlib + the file-local AES below:

- RC4 (the V1/V2 legacy cipher and the V4 /V2 crypt filter),
- AES-128/256 CBC (the V4 /AESV2 and V5 /AESV3 crypt filters), written
  from FIPS-197 with the S-box DERIVED (GF(2^8) inverse + affine map), not
  transcribed, and pinned against the FIPS-197 appendix vectors in tests,
- key derivation: Algorithms 2/3/4/5/7 (R2-R4, MD5+RC4) and the 2.A/2.B
  family (R5/R6, SHA-2 + AES) including /Perms verification,
- a structural decrypt-rewrite: every stream body and every in-object
  string is replaced by its plaintext and /Encrypt is stripped, so the
  rest of the parser (`pdf_layout.pdf_parse_blocks`, `pdf_images`) never
  sees ciphertext.

Only the empty-password cases are in scope: empty USER password (direct),
or empty OWNER password recovering the user password via Algorithm 7.
A genuinely password-locked document raises the named
``ValueError("password-protected PDF ...")`` envelope — same per-document
error-row contract as every other codec in this repo.

Out of scope (named errors, never silent garbling): public-key security
handlers (/Adobe.PPKLite), custom /Filter handlers, undocumented /V values,
and per-stream /Crypt filter chains.
"""

from __future__ import annotations

import hashlib
import re
import struct

try:  # optional OpenSSL fast path (AES-NI) — import-try gated, never
    # required: the pure-Python FIPS-197 implementation below is the
    # authoritative one and the only path on a host without
    # `cryptography` (tests pin BOTH paths to the appendix vectors, the
    # pure one by patching _HAVE_CG off).
    # Matters for R6: Algorithm 2.B is deliberately iteration-heavy
    # (~29k AES blocks per authentication) — ~1 s pure vs ~1 ms native.
    from cryptography.hazmat.primitives.ciphers import Cipher as _CgCipher
    from cryptography.hazmat.primitives.ciphers.algorithms import AES as _CgAES
    from cryptography.hazmat.primitives.ciphers.modes import CBC as _CgCBC

    _HAVE_CG = True
except ImportError:  # pragma: no cover - container always ships it
    _HAVE_CG = False

__all__ = [
    "rc4",
    "aes_encrypt_block",
    "aes_decrypt_block",
    "aes_cbc_encrypt",
    "aes_cbc_decrypt",
    "decrypt_pdf",
    "encrypt_pdf",
]

# ---------------------------------------------------------------------------
# RC4 (the PDF legacy cipher; public since 1994, spec'd in ISO 32000-1 §7.6.2)
# ---------------------------------------------------------------------------


def rc4(key: bytes, data: bytes) -> bytes:
    """RC4 stream cipher (encrypt == decrypt)."""
    if not key:
        raise ValueError("RC4: empty key")
    S = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + S[i] + key[i % klen]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for n, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[n] = c ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


# ---------------------------------------------------------------------------
# AES (FIPS-197). The S-box is derived at import from the GF(2^8)
# multiplicative inverse + affine transform, so a transcription error is
# structurally impossible; tests pin the appendix known-answer vectors.
# ---------------------------------------------------------------------------


def _build_tables() -> tuple[bytes, bytes, list[int], list[int]]:
    # GF(2^8) log/antilog over the generator 0x03 (x+1)
    exp = [0] * 510
    log = [0] * 256
    p = 1
    for i in range(255):
        exp[i] = p
        log[p] = i
        p ^= ((p << 1) ^ (0x1B if p & 0x80 else 0)) & 0xFF  # p *= (x+1)
    for i in range(255, 510):
        exp[i] = exp[i - 255]
    sbox = bytearray(256)
    for x in range(256):
        inv = 0 if x == 0 else exp[255 - log[x]]
        s, y = inv, inv
        for _ in range(4):
            y = ((y << 1) | (y >> 7)) & 0xFF
            s ^= y
        sbox[x] = s ^ 0x63
    inv_sbox = bytearray(256)
    for i, v in enumerate(sbox):
        inv_sbox[v] = i

    def gmul(a: int, b: int) -> int:
        if a == 0 or b == 0:
            return 0
        return exp[log[a] + log[b]]

    # flat-index ShiftRows permutations (state byte i = row i%4, col i//4)
    shift = [(i % 4) + 4 * (((i // 4) + (i % 4)) % 4) for i in range(16)]
    inv_shift = [(i % 4) + 4 * (((i // 4) - (i % 4)) % 4) for i in range(16)]
    # multiplication tables for InvMixColumns
    global _GMUL9, _GMUL11, _GMUL13, _GMUL14
    _GMUL9 = bytes(gmul(x, 9) for x in range(256))
    _GMUL11 = bytes(gmul(x, 11) for x in range(256))
    _GMUL13 = bytes(gmul(x, 13) for x in range(256))
    _GMUL14 = bytes(gmul(x, 14) for x in range(256))
    return bytes(sbox), bytes(inv_sbox), shift, inv_shift


_SBOX, _INV_SBOX, _SHIFT, _INV_SHIFT = _build_tables()


def _expand_key(key: bytes) -> list[bytes]:
    """FIPS-197 §5.2 key expansion → list of 16-byte round keys."""
    nk = len(key) // 4
    if len(key) not in (16, 24, 32):
        raise ValueError(f"AES key must be 16/24/32 bytes, got {len(key)}")
    nr = nk + 6
    w = [list(key[4 * i : 4 * i + 4]) for i in range(nk)]
    rcon = 1
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = [_SBOX[t[1]] ^ rcon, _SBOX[t[2]], _SBOX[t[3]], _SBOX[t[0]]]
            rcon = ((rcon << 1) ^ 0x1B) & 0xFF if rcon & 0x80 else rcon << 1
        elif nk > 6 and i % nk == 4:
            t = [_SBOX[b] for b in t]
        w.append([a ^ b for a, b in zip(w[i - nk], t)])
    return [bytes(sum(w[4 * r : 4 * r + 4], [])) for r in range(nr + 1)]


def _xtime(a: int) -> int:
    return ((a << 1) ^ 0x1B) & 0xFF if a & 0x80 else a << 1


def aes_encrypt_block(round_keys: list[bytes], block: bytes) -> bytes:
    """One-block AES forward cipher (FIPS-197 §5.1)."""
    s = [x ^ k for x, k in zip(block, round_keys[0])]
    sbox, shift = _SBOX, _SHIFT
    for rk in round_keys[1:-1]:
        s = [sbox[s[p]] for p in shift]  # SubBytes + ShiftRows
        # MixColumns
        t = [0] * 16
        for c in range(0, 16, 4):
            a0, a1, a2, a3 = s[c : c + 4]
            x = a0 ^ a1 ^ a2 ^ a3
            t[c] = a0 ^ x ^ _xtime(a0 ^ a1)
            t[c + 1] = a1 ^ x ^ _xtime(a1 ^ a2)
            t[c + 2] = a2 ^ x ^ _xtime(a2 ^ a3)
            t[c + 3] = a3 ^ x ^ _xtime(a3 ^ a0)
        s = [x ^ k for x, k in zip(t, rk)]
    s = [sbox[s[p]] for p in shift]
    return bytes(x ^ k for x, k in zip(s, round_keys[-1]))


def aes_decrypt_block(round_keys: list[bytes], block: bytes) -> bytes:
    """One-block AES inverse cipher (FIPS-197 §5.3)."""
    s = [x ^ k for x, k in zip(block, round_keys[-1])]
    inv_sbox, inv_shift = _INV_SBOX, _INV_SHIFT
    for rk in round_keys[-2:0:-1]:
        s = [inv_sbox[s[p]] for p in inv_shift]  # InvShiftRows + InvSubBytes
        s = [x ^ k for x, k in zip(s, rk)]
        t = [0] * 16
        for c in range(0, 16, 4):
            a0, a1, a2, a3 = s[c : c + 4]
            t[c] = _GMUL14[a0] ^ _GMUL11[a1] ^ _GMUL13[a2] ^ _GMUL9[a3]
            t[c + 1] = _GMUL9[a0] ^ _GMUL14[a1] ^ _GMUL11[a2] ^ _GMUL13[a3]
            t[c + 2] = _GMUL13[a0] ^ _GMUL9[a1] ^ _GMUL14[a2] ^ _GMUL11[a3]
            t[c + 3] = _GMUL11[a0] ^ _GMUL13[a1] ^ _GMUL9[a2] ^ _GMUL14[a3]
        s = t
    s = [inv_sbox[s[p]] for p in inv_shift]
    return bytes(x ^ k for x, k in zip(s, round_keys[0]))


def aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes, pad: bool = True) -> bytes:
    """AES-CBC; pad=True applies PKCS#7 (the PDF crypt-filter padding).
    OpenSSL when `cryptography` imports, else the from-scratch cipher."""
    if pad:
        n = 16 - len(data) % 16
        data = data + bytes([n]) * n
    elif len(data) % 16:
        raise ValueError("AES-CBC (no pad): data not a block multiple")
    if _HAVE_CG:
        if len(key) not in (16, 24, 32):
            raise ValueError(f"AES key must be 16/24/32 bytes, got {len(key)}")
        e = _CgCipher(_CgAES(key), _CgCBC(iv)).encryptor()
        return e.update(data) + e.finalize()
    rks = _expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        prev = aes_encrypt_block(rks, bytes(x ^ p for x, p in zip(data[i : i + 16], prev)))
        out += prev
    return bytes(out)


def aes_cbc_decrypt(key: bytes, iv: bytes, data: bytes, pad: bool = True) -> bytes:
    """AES-CBC decrypt; pad=True strips and validates PKCS#7 padding.
    OpenSSL when `cryptography` imports, else the from-scratch cipher."""
    if len(data) % 16 or (pad and not data):
        raise ValueError("AES-CBC: ciphertext not a block multiple")
    if _HAVE_CG:
        if len(key) not in (16, 24, 32):
            raise ValueError(f"AES key must be 16/24/32 bytes, got {len(key)}")
        d = _CgCipher(_CgAES(key), _CgCBC(iv)).decryptor()
        out = bytearray(d.update(data) + d.finalize())
    else:
        rks = _expand_key(key)
        out = bytearray()
        prev = iv
        for i in range(0, len(data), 16):
            blk = data[i : i + 16]
            out += bytes(x ^ p for x, p in zip(aes_decrypt_block(rks, blk), prev))
            prev = blk
    if pad:
        n = out[-1] if out else 0
        if not 1 <= n <= 16 or out[-n:] != bytes([n]) * n:
            raise ValueError("AES-CBC: bad PKCS#7 padding (wrong key?)")
        del out[-n:]
    return bytes(out)


# ---------------------------------------------------------------------------
# Standard security handler — key derivation
# ---------------------------------------------------------------------------

# ISO 32000-1 Table 3.1 / §7.6.3.3 padding constant
_PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


def _alg2_key(pwd: bytes, O: bytes, P: int, id0: bytes, r: int, n: int,
              encrypt_metadata: bool) -> bytes:
    """Algorithm 2 (ISO 32000-1 §7.6.3.3): the R2-R4 file encryption key.
    `pwd` is the RAW password; padding is applied here (pass a 32-byte
    already-padded value, e.g. Algorithm 7's output, unchanged)."""
    h = hashlib.md5(
        (pwd + _PAD)[:32]
        + O[:32]
        + struct.pack("<i", P)
        + id0
        + (b"\xff\xff\xff\xff" if r >= 4 and not encrypt_metadata else b"")
    ).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h[:n]).digest()
    return h[:n]


def _alg3_O(user_pw: bytes, owner_pw: bytes, r: int, n: int) -> bytes:
    """Algorithm 3: the /O value (fixture-writer side)."""
    h = hashlib.md5((owner_pw + _PAD)[:32]).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h[:n]).digest()
    k = h[:n]
    d = rc4(k, (user_pw + _PAD)[:32])
    if r >= 3:
        for i in range(1, 20):
            d = rc4(bytes(b ^ i for b in k), d)
    return d


def _alg45_U(filekey: bytes, id0: bytes, r: int) -> bytes:
    """Algorithm 4 (R2) / 5 (R3-R4): the /U value. R3-R4 returns the
    16 significant bytes (the file stores them + 16 arbitrary bytes)."""
    if r == 2:
        return rc4(filekey, _PAD)
    x = rc4(filekey, hashlib.md5(_PAD + id0).digest())
    for i in range(1, 20):
        x = rc4(bytes(b ^ i for b in filekey), x)
    return x


def _alg7_user_pw(owner_pw: bytes, O: bytes, r: int, n: int) -> bytes:
    """Algorithm 7 (decrypt side): recover the PADDED user password from /O
    with the owner password."""
    h = hashlib.md5((owner_pw + _PAD)[:32]).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h[:n]).digest()
    k = h[:n]
    if r == 2:
        return rc4(k, O)
    d = O
    for i in range(19, -1, -1):
        d = rc4(bytes(b ^ i for b in k), d)
    return d


def _hash_2b(pwd: bytes, salt: bytes, udata: bytes, r: int) -> bytes:
    """R5: plain SHA-256(pwd+salt+udata) (Adobe ExtensionLevel 3).
    R6: ISO 32000-2 §7.6.4.3.4 Algorithm 2.B — the iterated
    SHA-256/384/512 + AES-CBC construction."""
    K = hashlib.sha256(pwd + salt + udata).digest()
    if r == 5:
        return K
    i = 0
    while True:
        K1 = (pwd + K + udata) * 64
        E = aes_cbc_encrypt(K[:16], K[16:32], K1, pad=False)
        K = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[sum(E[:16]) % 3](E).digest()
        i += 1
        if i >= 64 and E[-1] <= i - 32:
            return K[:32]


def _v5_file_key(enc: dict, password: bytes) -> bytes:
    """R5/R6 (AES-256) authentication + file key (ISO 32000-2 Algorithms
    2.A, 8-13 checks). Tries the password as user then owner."""
    U, O = enc["U"], enc["O"]
    UE, OE = enc.get("UE"), enc.get("OE")
    r = enc["R"]
    if len(U) < 48 or len(O) < 48 or not UE or not OE:
        raise ValueError("encrypted PDF: malformed V5 /U //O /UE /OE entries")
    if _hash_2b(password, U[32:40], b"", r) == U[:32]:
        ik = _hash_2b(password, U[40:48], b"", r)
        filekey = aes_cbc_decrypt(ik, b"\0" * 16, UE[:32], pad=False)
    elif _hash_2b(password, O[32:40], U[:48], r) == O[:32]:
        ik = _hash_2b(password, O[40:48], U[:48], r)
        filekey = aes_cbc_decrypt(ik, b"\0" * 16, OE[:32], pad=False)
    else:
        raise ValueError(
            "password-protected PDF (password required): not extractable"
        )
    perms = enc.get("Perms")
    if perms and len(perms) >= 16:
        pe = aes_decrypt_block(_expand_key(filekey), perms[:16])
        if pe[9:12] != b"adb":
            raise ValueError("encrypted PDF: /Perms verification failed")
    return filekey


def _v4_methods(enc: dict) -> tuple[str, str]:
    """Resolve /StmF and /StrF through /CF for V4/V5 → ('rc4'|'aes'|'identity')."""
    cfm_by_name = {"Identity": "identity"}
    for name, sub in enc.get("CF", {}).items():
        cfm = sub.get("CFM")
        method = {"V2": "rc4", "AESV2": "aes", "AESV3": "aes",
                  "None": "identity"}.get(cfm)
        if method is None:
            raise ValueError(f"encrypted PDF: unsupported crypt filter /CFM /{cfm}")
        cfm_by_name[name] = method
    stmf = enc.get("StmF", "Identity")
    strf = enc.get("StrF", "Identity")
    for f in (stmf, strf):
        if f not in cfm_by_name:
            raise ValueError(f"encrypted PDF: crypt filter /{f} not defined in /CF")
    return cfm_by_name[stmf], cfm_by_name[strf]


def _v4_key_bytes(enc: dict) -> int:
    """File-key length for V4: the top-level /Length (bits) when present;
    otherwise the stream crypt filter's /Length — written in BYTES per
    ISO 32000-1 Table 25, but real producers also write bits, so values
    >= 40 are read as bits; otherwise the /CFM default (128-bit)."""
    if "Length" in enc:
        return enc["Length"] // 8
    sub = enc.get("CF", {}).get(enc.get("StmF", "Identity"))
    if sub and sub.get("Length"):
        cfl = sub["Length"]
        return cfl // 8 if cfl >= 40 else cfl
    return 16


def _file_key_and_methods(enc: dict, id0: bytes, password: bytes
                          ) -> tuple[bytes, str, str, int]:
    """Authenticate (empty/supplied password as user, then owner) and return
    (filekey, stream_method, string_method, V)."""
    v, r = enc["V"], enc["R"]
    # resolve crypt filters BEFORE authenticating: a structurally
    # unsupported handler must raise its own named envelope, not be
    # misreported as password-protected
    methods = _v4_methods(enc) if v in (4, 5) else ("rc4", "rc4")
    if v == 5:
        key = _v5_file_key(enc, password)
        return key, methods[0], methods[1], v
    if r == 2:
        n = 5
    elif v == 4:
        n = _v4_key_bytes(enc)
    else:
        n = enc.get("Length", 40) // 8
    if not 5 <= n <= 16:
        raise ValueError(f"encrypted PDF: invalid key length {n * 8}")
    em = enc.get("EncryptMetadata", True)
    O, U, P = enc["O"], enc["U"], enc["P"]
    key = _alg2_key(password, O, P, id0, r, n, em)
    u = _alg45_U(key, id0, r)
    ok = u == U[:32] if r == 2 else u[:16] == U[:16]
    if not ok:
        # try the password as the OWNER password (Algorithm 7)
        padded_user = _alg7_user_pw(password, O[:32], r, n)
        key = _alg2_key(padded_user, O, P, id0, r, n, em)
        u = _alg45_U(key, id0, r)
        ok = u == U[:32] if r == 2 else u[:16] == U[:16]
    if not ok:
        raise ValueError(
            "password-protected PDF (password required): not extractable"
        )
    return key, methods[0], methods[1], v


def _obj_key(filekey: bytes, num: int, gen: int, aes: bool, v: int) -> bytes:
    """Algorithm 1: the per-object key (V1-V4). V5 uses the file key as-is."""
    if v == 5:
        return filekey
    h = hashlib.md5(
        filekey
        # Algorithm 1 uses the LOW 3 / 2 bytes; masking also keeps a
        # malformed oversized object number a ValueError-contract problem,
        # not a struct.error escape
        + struct.pack("<I", num & 0xFFFFFF)[:3]
        + struct.pack("<I", gen & 0xFFFF)[:2]
        + (b"sAlT" if aes else b"")
    ).digest()
    return h[: min(len(filekey) + 5, 16)]


def _crypt(method: str, filekey: bytes, v: int, num: int, gen: int,
           data: bytes, decrypt: bool, iv: bytes = b"") -> bytes:
    """En/decrypt one string or stream body for object (num, gen)."""
    if method == "identity":
        return data
    if method == "rc4":
        return rc4(_obj_key(filekey, num, gen, False, v), data)
    key = _obj_key(filekey, num, gen, True, v)
    if decrypt:
        if len(data) < 16 or len(data) % 16:
            raise ValueError(
                f"encrypted PDF: AES payload of {len(data)} bytes in object "
                f"{num} is not IV + whole blocks"
            )
        return aes_cbc_decrypt(key, data[:16], data[16:])
    return iv + aes_cbc_encrypt(key, iv, data)


# ---------------------------------------------------------------------------
# Document parsing helpers
# ---------------------------------------------------------------------------


_EOL_RE = re.compile(r"[\r\n]")


def _skip_string(text: str, j: int) -> int:
    """Index past the literal string '(...)', hex string '<...>' or
    '%' comment that starts at j (text[j] is '(', '%', or a '<' not
    followed by '<'). Raises ValueError on an unterminated string."""
    from ocr_spark.operators.pdf_layout import _parse_hex_string, _parse_pdf_string

    c = text[j]
    if c == "(":
        return _parse_pdf_string(text, j)[1]
    if c == "<":
        return _parse_hex_string(text, j)[1]
    m = _EOL_RE.search(text, j)  # a comment runs to end of line: CR or LF
    return len(text) if m is None else m.end()


def _scan_dict(text: str, i: int) -> tuple[str, int]:
    """The balanced '<< ... >>' substring starting at index i, STRING-
    AWARE: literal and hex strings are skipped atomically, so binary
    /O //U ciphertext containing '>>' or '<<' bytes (the form Acrobat
    writes as escaped literal strings) can never corrupt the balance.
    Returns (substring, index past the closing '>>')."""
    assert text[i : i + 2] == "<<"
    depth, j, n = 0, i, len(text)
    while j < n:
        c = text[j]
        if c == "<" and text[j + 1 : j + 2] == "<":
            depth += 1
            j += 2
        elif c == ">" and text[j + 1 : j + 2] == ">":
            depth -= 1
            j += 2
            if depth == 0:
                return text[i:j], j
        elif c in "(<%":
            j = _skip_string(text, j)
        else:
            j += 1
    raise ValueError("encrypted PDF: unbalanced /Encrypt dictionary")


_NAME_RE = re.compile(r"/([^\s/<>\[\]()%]*)")
_TOK_RE = re.compile(r"[^\s/<>\[\]()%]+")


def _skip_array(text: str, i: int) -> int:
    """Index past the balanced '[ ... ]' at i (string/dict aware)."""
    assert text[i] == "["
    depth, j, n = 0, i, len(text)
    while j < n:
        c = text[j]
        if c == "[":
            depth += 1
            j += 1
        elif c == "]":
            depth -= 1
            j += 1
            if depth == 0:
                return j
        elif c == "<" and text[j + 1 : j + 2] == "<":
            _d, j = _scan_dict(text, j)
        elif c in "(<%":
            j = _skip_string(text, j)
        else:
            j += 1
    raise ValueError("encrypted PDF: unbalanced array")


def _dict_entries(body: str) -> dict[str, tuple[str, object]]:
    """TOP-LEVEL entries of a '<< ... >>' body as {key: (kind, value)}:
    kind 'name' (str), 'str' (bytes), 'dict' (raw text), 'arr' (raw
    text), 'tok' (numbers/booleans/refs as text). Sequential and
    string-aware — a key name can never be matched inside a string value
    or a nested dictionary (the flat-regex bugs this replaces)."""
    from ocr_spark.operators.pdf_layout import _parse_hex_string, _parse_pdf_string

    assert body[:2] == "<<" and body.rstrip().endswith(">>")
    out: dict[str, tuple[str, object]] = {}
    i, n = 2, len(body.rstrip()) - 2
    key: str | None = None
    while i < n:
        c = body[i]
        if c.isspace():
            i += 1
            continue
        if c == "%":
            i = min(_skip_string(body, i), n)
            continue
        if c == "/":
            m = _NAME_RE.match(body, i)
            if key is None:
                key = m.group(1)
            else:
                out[key] = ("name", m.group(1))
                key = None
            i = m.end()
            continue
        if body.startswith("<<", i):
            sub, j = _scan_dict(body, i)
            val: tuple[str, object] = ("dict", sub)
        elif c == "(":
            s, j = _parse_pdf_string(body, i)
            val = ("str", s.encode("latin-1"))
        elif c == "<":
            b, j = _parse_hex_string(body, i)
            val = ("str", b)
        elif c == "[":
            j = _skip_array(body, i)
            val = ("arr", body[i:j])
        else:
            m = _TOK_RE.match(body, i)
            j = m.end() if m else i + 1
            tok = body[i:j]
            # fold 'N G R' indirect references into one token
            rm = re.match(r"\s+(\d+)\s+R\b", body[j:]) if tok.isdigit() else None
            if rm:
                tok = f"{tok} {rm.group(1)} R"
                j += rm.end()
            val = ("tok", tok)
        if key is not None:
            out[key] = val
            key = None
        i = j
    return out


def _mask_stream_bodies(data: bytes) -> bytes:
    """A copy with every stream BODY blanked to spaces, so structural
    regex scans ('/Encrypt', object headers, trailer keys) can never match
    bytes inside compressed/encrypted payloads."""
    from ocr_spark.operators.pdf_layout import _iter_raw_streams

    out = bytearray(data)
    for ddict, _raw, k, stream_end in _iter_raw_streams(data):
        # blank everything between the stream dict and 'endstream' (the
        # 'stream' keyword + EOLs go too — harmless, this copy is only
        # scanned for /Encrypt + /ID + object headers, never re-parsed)
        body_start = k + len(ddict)
        body_end = stream_end - len(b"endstream")
        out[body_start:body_end] = b" " * (body_end - body_start)
    return bytes(out)


# a '(' or '%', or a '<' that is not half of a dictionary's '<<'
_STRING_START_RE = re.compile(r"[(%]|(?<!<)<(?!<)")


def _mask_strings(text: str) -> str:
    """A same-length copy with every literal/hex string and comment (as
    _skip_string delimits them) blanked to spaces, so a structural regex
    cannot match '/Encrypt 1 0 R' quoted inside, say, an /Info /Title.
    Offsets are preserved: a match position indexes the unmasked text too.
    An unterminated string start is left as is."""
    out: list[str] = []
    i = 0
    while m := _STRING_START_RE.search(text, i):
        k = m.start()
        try:
            j = _skip_string(text, k)
            out += [text[i:k], " " * (j - k)]
        except ValueError:  # unterminated: keep the byte, scan on
            j = k + 1
            out.append(text[i:j])
        i = j
    out.append(text[i:])
    return "".join(out)


_INT_OBJ_RE = re.compile(r"\s*([+-]?\d+)\s*endobj\b")


def _find_obj(text: str, num: int, gen: int) -> re.Match | None:
    """Header match of object `num gen obj` (the last definition wins, as
    incremental updates append newer ones), or None."""
    om = None
    for om in re.finditer(rf"(?<![0-9]){num}\s+{gen}\s+obj\b", text):
        pass
    return om


def _parse_encrypt_dict(data: bytes) -> tuple[dict, bytes, int | None] | None:
    """Locate + parse the /Encrypt dictionary and the first /ID string.
    Returns (fields, id0, encrypt_object_number|None), or None when the
    document has no real /Encrypt entry (e.g. the bytes only occur inside
    a binary stream body or a string — a false trigger, not an encrypted
    file)."""
    text = _mask_stream_bodies(data).decode("latin-1")
    enc_num = None
    # last /Encrypt wins (incremental updates append newer trailers); it is
    # located with strings and comments masked, then parsed from `text`
    matches = list(
        re.finditer(
            r"/Encrypt\s*(?:(\d+)\s+(\d+)\s+R|(?=<<))", _mask_strings(text)
        )
    )
    if not matches:
        return None
    m = matches[-1]
    if m.group(1) is not None:
        enc_num = int(m.group(1))
        om = _find_obj(text, enc_num, int(m.group(2)))
        if om is None:
            raise ValueError("encrypted PDF: /Encrypt object not found")
        k = text.find("<<", om.end())
        if k < 0:
            raise ValueError("encrypted PDF: /Encrypt object has no dictionary")
        body, _ = _scan_dict(text, k)
    else:
        body, _ = _scan_dict(text, m.end())

    entries = _dict_entries(body)

    def _int(key: str):
        kv = entries.get(key)
        if kv and kv[0] == "tok":
            ref = re.fullmatch(r"(\d+) (\d+) R", kv[1])
            if ref:  # never read as absent: V2 would fall back to 40-bit keys
                om = _find_obj(text, int(ref.group(1)), int(ref.group(2)))
                im = om and _INT_OBJ_RE.match(text, om.end())
                if not im:
                    raise ValueError(
                        f"encrypted PDF: indirect /{key} {kv[1]} does not "
                        "resolve to an integer object"
                    )
                return int(im.group(1))
            try:
                return int(kv[1])
            except ValueError:
                return None
        return None

    fields: dict = {"raw": body}
    for key in ("V", "R", "Length", "P"):
        v = _int(key)
        if v is not None:
            fields[key] = v
    if "P" in fields:
        # /P is a 32-bit signed field (ISO 32000-1 Table 21); fold malformed
        # out-of-range values instead of letting struct.pack raise later
        fields["P"] = ((fields["P"] & 0xFFFFFFFF) ^ 0x80000000) - 0x80000000
    for key in ("Filter", "StmF", "StrF"):
        kv = entries.get(key)
        if kv and kv[0] == "name":
            fields[key] = kv[1]
    fields.setdefault("Filter", None)
    kv = entries.get("EncryptMetadata")
    if kv and kv[0] == "tok":
        fields["EncryptMetadata"] = kv[1] == "true"
    for key in ("O", "U", "OE", "UE", "Perms"):
        kv = entries.get(key)
        if kv and kv[0] == "str":
            fields[key] = kv[1]
    # /CF: named crypt filters -> {"CFM": name, "Length": int|None}
    cf: dict[str, dict] = {}
    kv = entries.get("CF")
    if kv and kv[0] == "dict":
        for name, sub in _dict_entries(kv[1]).items():
            if sub[0] != "dict":
                continue
            se = _dict_entries(sub[1])
            cfm = se.get("CFM")
            ln = se.get("Length")
            cf[name] = {
                "CFM": cfm[1] if cfm and cfm[0] == "name" else None,
                "Length": int(ln[1])
                if ln and ln[0] == "tok" and str(ln[1]).lstrip("-").isdigit()
                else None,
            }
    fields["CF"] = cf

    # /ID [ <...> <...> ] from the last trailer that carries one
    id0 = b""
    for im in re.finditer(r"/ID\s*\[\s*(?=[<(])", text):
        from ocr_spark.operators.pdf_layout import _parse_hex_string, _parse_pdf_string

        i = im.end()
        if text[i] == "(":
            s, _ = _parse_pdf_string(text, i)
            id0 = s.encode("latin-1")
        else:
            id0, _ = _parse_hex_string(text, i)
    return fields, id0, enc_num


_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")


def _validate_handler(enc: dict) -> None:
    if enc.get("Filter") != "Standard":
        raise ValueError(
            f"encrypted PDF: unsupported security handler /{enc.get('Filter')} "
            "(only the Standard handler is implemented)"
        )
    v, r = enc.get("V"), enc.get("R")
    if v not in (1, 2, 4, 5) or r not in (2, 3, 4, 5, 6):
        raise ValueError(f"encrypted PDF: unsupported /V {v} /R {r}")
    if "O" not in enc or "U" not in enc:
        raise ValueError("encrypted PDF: missing /O or /U")
    if v != 5 and "P" not in enc:
        raise ValueError("encrypted PDF: missing /P")


def _segments(data: bytes):
    """Split the file into text gaps and stream objects:
    yields ('text', bytes) and ('stream', ddict, raw, num, gen) in order.
    Object numbers come from the nearest preceding header in TEXT regions
    (stream bodies are opaque, so binary bytes can't fake a header)."""
    from ocr_spark.operators.pdf_layout import _iter_raw_streams

    pos = 0
    pending: list[tuple] = []
    for ddict, raw, k, stream_end in _iter_raw_streams(data):
        gap = data[pos:k]
        pending.append(("text", gap))
        # object header closest above the stream, searched in this gap
        num = gen = None
        for hm in _OBJ_RE.finditer(gap):
            num, gen = int(hm.group(1)), int(hm.group(2))
        pending.append(("stream", ddict, raw, num, gen))
        pos = stream_end
    pending.append(("text", data[pos:]))
    return pending


_SIG_RE = re.compile(r"/Type\s*/(?:Sig|DocTimeStamp)\b|/ByteRange\b")


def _object_span_end(text: str, i: int) -> int:
    """Walk from i (just past an 'N G obj' header) to just past its
    'endobj', string-aware so an 'endobj' INSIDE a literal/hex string
    can't terminate the span early."""
    from ocr_spark.operators.pdf_layout import _parse_hex_string, _parse_pdf_string

    n = len(text)
    while i < n:
        c = text[i]
        if c == "(":
            try:
                _s, i = _parse_pdf_string(text, i)
            except ValueError:
                i += 1
            continue
        if c == "<" and text[i + 1 : i + 2] != "<":
            try:
                _b, i = _parse_hex_string(text, i)
            except ValueError:
                i += 1
            continue
        if text.startswith("endobj", i):
            return i + 6
        i += 1
    return n


def _rewrite_span(span: str, num: int, gen: int, transform) -> str:
    """Rewrite every string in one object span via `transform(num, gen,
    raw) -> bytes` (emitted as hex). Exempt per ISO 32000-1 §7.6.2:
    empty strings (writers leave bare '()' markers; an empty AES payload
    is structurally impossible anyway) and a signature dictionary's
    /Contents (kept plaintext so /ByteRange digests stay computable)."""
    from ocr_spark.operators.pdf_layout import _parse_hex_string, _parse_pdf_string

    is_sig = bool(_SIG_RE.search(span))
    out: list[str] = []
    i, n = 0, len(span)
    last_name: str | None = None
    while i < n:
        c = span[i]
        if c == "/":
            m = _NAME_RE.match(span, i)
            last_name = m.group(1)
            out.append(span[i : m.end()])
            i = m.end()
            continue
        if c in "(<" and not span.startswith("<<", i):
            try:
                if c == "(":
                    s, j = _parse_pdf_string(span, i)
                    raw = s.encode("latin-1")
                else:
                    raw, j = _parse_hex_string(span, i)
            except ValueError:
                out.append(c)
                i += 1
                continue
            if not raw or (is_sig and last_name == "Contents"):
                out.append(span[i:j])
            else:
                out.append("<" + transform(num, gen, raw).hex() + ">")
            i = j
            continue
        if span.startswith("<<", i):
            out.append("<<")
            i += 2
            continue
        out.append(c)
        i += 1
    return "".join(out)


def _rewrite_strings(gap: bytes, transform, enc_num: int | None) -> bytes:
    """Apply `transform(num, gen, plaintext_bytes) -> bytes` to every string
    that sits INSIDE an object body (between 'N G obj' and 'endobj'), writing
    results back as hex strings. Strings outside objects (trailer /ID) and
    inside the /Encrypt object are left alone."""
    text = gap.decode("latin-1")
    out: list[str] = []
    i, n = 0, len(text)
    while i < n:
        hm = _OBJ_RE.search(gap, i)
        if not hm:
            out.append(text[i:])
            break
        out.append(text[i : hm.end()])
        num, gen = int(hm.group(1)), int(hm.group(2))
        span_end = _object_span_end(text, hm.end())
        span = text[hm.end() : span_end]
        if num == enc_num:
            out.append(span)
        else:
            out.append(_rewrite_span(span, num, gen, transform))
        i = span_end
    return "".join(out).encode("latin-1")


def _set_length(ddict: str, n: int) -> str:
    """Rewrite the /Length entry (direct or indirect) to the literal n."""
    new, cnt = re.subn(r"/Length\s+\d+(\s+\d+\s+R)?", f"/Length {n}", ddict, count=1)
    if not cnt:
        new = ddict.rstrip()
        assert new.endswith(">>")
        new = new[:-2] + f"/Length {n} >>"
    return new


def _stream_exempt(ddict: str, num: int | None, enc_num: int | None,
                   encrypt_metadata: bool) -> tuple[bool, bool]:
    """(body exempt, dict strings exempt) for one stream object. The XRef
    stream (ISO 32000-1 §7.5.8.2) and the /Encrypt object itself are
    plaintext throughout. /Metadata under /EncryptMetadata false exempts
    only the body: strings in its dictionary are still encrypted (§7.6.1),
    as they are under /StmF /Identity."""
    if (num is not None and num == enc_num) or re.search(
        r"/Type\s*/XRef\b", ddict
    ):
        return True, True
    meta = not encrypt_metadata and re.search(r"/Type\s*/Metadata\b", ddict)
    return bool(meta), False


def decrypt_pdf(data: bytes, password: bytes = b"") -> bytes:
    """Decrypt a standard-security-handler PDF in structural form: every
    stream body and in-object string replaced by plaintext, /Encrypt
    stripped from the trailer(s). Raises the named ``ValueError`` envelopes
    for password-locked documents and unsupported handlers. The output is
    NOT offset-accurate (xref tables go stale) — downstream parsing here is
    structural (`pdf_layout.pdf_parse_blocks`) and never reads xref.
    Returns the input unchanged when no real /Encrypt entry exists (a
    trigger-byte false positive inside a binary stream body)."""
    parsed = _parse_encrypt_dict(data)
    if parsed is None:
        return data
    enc, id0, enc_num = parsed
    _validate_handler(enc)
    filekey, stm_m, str_m, v = _file_key_and_methods(enc, id0, password)
    em = enc.get("EncryptMetadata", True)

    out: list[bytes] = []
    for seg in _segments(data):
        if seg[0] == "text":
            gap = seg[1]
            if str_m != "identity":
                gap = _rewrite_strings(
                    gap,
                    lambda num, gen, raw: _crypt(
                        str_m, filekey, v, num, gen, raw, decrypt=True
                    ),
                    enc_num,
                )
            gap = re.sub(rb"/Encrypt\s+\d+\s+\d+\s+R|/Encrypt\s*(?=<<)", b"", gap)
            out.append(gap)
        else:
            _, ddict, raw, num, gen = seg
            if _CRYPT_FILTER_RE.search(ddict):
                raise ValueError(
                    "encrypted PDF: per-stream /Crypt filter chains are not "
                    "supported"
                )
            body_ex, strings_ex = _stream_exempt(ddict, num, enc_num, em)
            body = raw
            if not body_ex and stm_m != "identity":
                if num is None:
                    raise ValueError(
                        "encrypted PDF: stream without an enclosing object header"
                    )
                body = _crypt(stm_m, filekey, v, num, gen or 0, raw, decrypt=True)
            if not strings_ex and str_m != "identity" and num is not None:
                # strings inside the stream's own dictionary (embedded-file
                # /Params dates, say) are encrypted like any other, whatever
                # the body's crypt filter
                ddict = _rewrite_span(
                    ddict, num, gen or 0,
                    lambda n_, g_, r_: _crypt(
                        str_m, filekey, v, n_, g_, r_, decrypt=True
                    ),
                )
            out.append(
                _set_length(ddict, len(body)).encode("latin-1")
                + b"\nstream\n" + body + b"\nendstream"
            )
    return b"".join(out)


# a REAL /Crypt entry in the /Filter value (name or array), not the bytes
# '/Crypt' appearing in some unrelated name like /Subtype /CryptoSig
_CRYPT_FILTER_RE = re.compile(r"/Filter\s*(?:/Crypt\b|\[[^\]]*/Crypt\b)")


# ---------------------------------------------------------------------------
# Fixture-writer side: encrypt a (classic-xref) PDF for round-trip tests
# ---------------------------------------------------------------------------

_VARIANTS = {
    # name: (V, R, key bits, crypt-filter method)
    "rc4-40": (1, 2, 40, "rc4"),
    "rc4-128": (2, 3, 128, "rc4"),
    "rc4-cf": (4, 4, 128, "rc4"),   # RC4 dressed as a V4 crypt filter
    "aesv2": (4, 4, 128, "aes"),
    "aes-r5": (5, 5, 256, "aes"),   # Adobe ExtensionLevel 3 (deprecated, real)
    "aesv3": (5, 6, 256, "aes"),    # ISO 32000-2
}


def _det(seed: bytes, label: bytes, n: int) -> bytes:
    """Deterministic pseudo-random bytes for fixture salts/IVs/keys."""
    out = b""
    c = 0
    while len(out) < n:
        out += hashlib.sha256(seed + label + struct.pack("<I", c)).digest()
        c += 1
    return out[:n]


def encrypt_pdf(
    data: bytes,
    variant: str = "aesv2",
    user_pw: bytes = b"",
    owner_pw: bytes = b"owner-secret",
    permissions: int = -3904,
    encrypt_metadata: bool = True,
) -> bytes:
    """Encrypt a classic-trailer PDF with the standard security handler —
    the fixture-writer twin of `decrypt_pdf` (same contract as every other
    codec pair in this repo: the writer emits real files per the spec so
    round-trips exercise real bitstreams, and spec-pinned unit vectors keep
    the pair from drifting together). Deterministic: salts/keys/IVs derive
    from SHA-256 of the input bytes. Rebuilds the file with a fresh xref
    table so offsets stay exact."""
    if variant not in _VARIANTS:
        raise ValueError(f"unknown encryption variant {variant!r}")
    v, r, bits, method = _VARIANTS[variant]
    if not data.lstrip()[:5] == b"%PDF-":
        raise ValueError("not a PDF")
    if b"/Encrypt" in data:
        raise ValueError("encrypt_pdf: input is already encrypted")
    seed = hashlib.sha256(data + variant.encode() + user_pw + owner_pw).digest()
    id0 = hashlib.md5(data).digest()
    n = bits // 8

    extra = ""
    if v == 5:
        filekey = _det(seed, b"filekey", 32)
        vs_u, ks_u = _det(seed, b"vsu", 8), _det(seed, b"ksu", 8)
        vs_o, ks_o = _det(seed, b"vso", 8), _det(seed, b"kso", 8)
        U = _hash_2b(user_pw, vs_u, b"", r) + vs_u + ks_u
        UE = aes_cbc_encrypt(_hash_2b(user_pw, ks_u, b"", r), b"\0" * 16,
                             filekey, pad=False)
        O = _hash_2b(owner_pw, vs_o, U, r) + vs_o + ks_o
        OE = aes_cbc_encrypt(_hash_2b(owner_pw, ks_o, U, r), b"\0" * 16,
                             filekey, pad=False)
        perms_pt = (
            struct.pack("<i", permissions) + b"\xff\xff\xff\xff"
            + (b"T" if encrypt_metadata else b"F") + b"adb" + _det(seed, b"pr", 4)
        )
        perms = aes_encrypt_block(_expand_key(filekey), perms_pt)
        extra = (
            f"/OE <{OE.hex()}> /UE <{UE.hex()}> /Perms <{perms.hex()}> "
        )
    else:
        O = _alg3_O(user_pw, owner_pw, r, n)
        filekey = _alg2_key(user_pw, O, permissions, id0, r, n, encrypt_metadata)
        u = _alg45_U(filekey, id0, r)
        U = u if r == 2 else u + _det(seed, b"upad", 16)
        UE = OE = None

    iv_count = [0]

    def _iv() -> bytes:
        iv_count[0] += 1
        return _det(seed, b"iv%d" % iv_count[0], 16)

    def enc_bytes(num: int, gen: int, raw: bytes) -> bytes:
        return _crypt(method, filekey, v, num, gen, raw, decrypt=False, iv=_iv())

    # rewrite bodies (strings → hex ciphertext, streams → ciphertext)
    pieces: list[bytes] = []
    max_num = 0
    for seg in _segments(data):
        if seg[0] == "text":
            for hm in _OBJ_RE.finditer(seg[1]):
                max_num = max(max_num, int(hm.group(1)))
            pieces.append(_rewrite_strings(seg[1], enc_bytes, None))
        else:
            _, ddict, raw, num, gen = seg
            if num is None:
                raise ValueError("encrypt_pdf: stream outside any object")
            body_ex, strings_ex = _stream_exempt(
                ddict, num, None, encrypt_metadata
            )
            body = raw if body_ex else enc_bytes(num, gen or 0, raw)
            if not strings_ex:
                # symmetric with decrypt_pdf: stream-dict strings are
                # encrypted even when the body is exempt
                ddict = _rewrite_span(ddict, num, gen or 0, enc_bytes)
            pieces.append(
                _set_length(ddict, len(body)).encode("latin-1")
                + b"\nstream\n" + body + b"\nendstream"
            )
    rewritten = b"".join(pieces)

    enc_num = max_num + 1
    if v == 1:
        dict_body = (
            f"<< /Filter /Standard /V 1 /R 2 /O <{O.hex()}> /U <{U.hex()}> "
            f"/P {permissions} >>"
        )
    elif v == 2:
        dict_body = (
            f"<< /Filter /Standard /V 2 /R 3 /Length {bits} /O <{O.hex()}> "
            f"/U <{U.hex()}> /P {permissions} >>"
        )
    else:
        cfm = {"rc4": "V2", "aes": "AESV2" if v == 4 else "AESV3"}[method]
        em = "" if encrypt_metadata else "/EncryptMetadata false "
        dict_body = (
            f"<< /Filter /Standard /V {v} /R {r} /Length {bits} "
            f"/CF << /StdCF << /CFM /{cfm} /AuthEvent /DocOpen "
            f"/Length {n} >> >> /StmF /StdCF /StrF /StdCF {em}{extra}"
            f"/O <{O.hex()}> /U <{U.hex()}> /P {permissions} >>"
        )

    # strip the old xref/trailer tail, append the Encrypt object, rebuild
    tail = rewritten.rfind(b"\nxref")
    if tail < 0:
        raise ValueError("encrypt_pdf: classic xref table required")
    body_part = rewritten[: tail + 1]
    rm = re.search(rb"/Root\s+(\d+)\s+(\d+)\s+R", rewritten[tail:])
    if not rm:
        raise ValueError("encrypt_pdf: trailer has no /Root")
    root = rm.group(0).decode()
    im = re.search(rb"/Info\s+\d+\s+\d+\s+R", rewritten[tail:])
    if im:  # preserve the document-information reference (§14.3.3)
        root += " " + im.group(0).decode()

    out = bytearray(body_part)
    if not out.endswith(b"\n"):
        out += b"\n"
    out += f"{enc_num} 0 obj\n{dict_body}\nendobj\n".encode("latin-1")

    # fresh, offset-accurate xref over every object in the rewritten file
    offsets: dict[int, int] = {}
    text_mask = bytes(out)
    pos = 0
    stream_spans = []
    from ocr_spark.operators.pdf_layout import _iter_raw_streams

    for _dd, _raw, k, stream_end in _iter_raw_streams(text_mask):
        stream_spans.append((k, stream_end))
    spans_i = 0
    for hm in _OBJ_RE.finditer(text_mask):
        while spans_i < len(stream_spans) and stream_spans[spans_i][1] <= hm.start():
            spans_i += 1
        if spans_i < len(stream_spans) and stream_spans[spans_i][0] <= hm.start():
            continue  # header bytes inside a (ciphertext) stream body
        offsets[int(hm.group(1))] = hm.start()
    size = max(offsets) + 1
    xref_off = len(out)
    out += f"xref\n0 {size}\n".encode()
    out += b"0000000000 65535 f \n"
    for i in range(1, size):
        if i in offsets:
            out += f"{offsets[i]:010d} 00000 n \n".encode()
        else:
            out += b"0000000000 65535 f \n"
    out += (
        f"trailer\n<< /Size {size} {root} /Encrypt {enc_num} 0 R "
        f"/ID [<{id0.hex()}> <{id0.hex()}>] >>\n"
        f"startxref\n{xref_off}\n%%EOF\n"
    ).encode()
    return bytes(out)
