"""SSI crypto kernel: Ed25519 keys, compact JWTs, did:key derivation.

Pure-compute reimplementation of the reference's Veramo service hops
(issue VC: veramo-agent/src/veramo/veramo_authorisation_credential.ts:79-240;
verify: veramo-verifier/src/server.ts:500-539; did:key derivation:
veramo_resolver_manager.ts:22-64 — all reimplemented from the public W3C
VC / did:key / JWS specs, no service calls). Runs inside Arrow-batched
Pandas UDFs on executors; keys are deterministic from a seed string so test
vectors are reproducible.

JWT: JOSE compact serialization, alg=EdDSA (RFC 8037).
did:key: multicodec 0xed01 + raw public key, base58btc, 'z' prefix -> the
standard 'did:key:z6Mk...' form for Ed25519.
"""

from __future__ import annotations

import base64
import hashlib
import json

from cryptography.exceptions import InvalidSignature
from cryptography.hazmat.primitives.asymmetric.ed25519 import (
    Ed25519PrivateKey,
    Ed25519PublicKey,
)

_B58_ALPHABET = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"


def b58encode(data: bytes) -> str:
    n = int.from_bytes(data, "big")
    out = []
    while n > 0:
        n, r = divmod(n, 58)
        out.append(_B58_ALPHABET[r])
    # preserve leading zero bytes
    pad = 0
    for b in data:
        if b == 0:
            pad += 1
        else:
            break
    return "1" * pad + "".join(reversed(out))


def b64url(data: bytes) -> str:
    return base64.urlsafe_b64encode(data).rstrip(b"=").decode("ascii")


def b64url_decode(s: str) -> bytes:
    return base64.urlsafe_b64decode(s + "=" * (-len(s) % 4))


def seed_for(name: str, namespace: str = "ssi-identity") -> bytes:
    """Deterministic 32-byte Ed25519 seed for a symbol/alias."""
    return hashlib.sha256(f"{namespace}|{name}".encode()).digest()


def keypair_for(name: str) -> tuple[Ed25519PrivateKey, Ed25519PublicKey]:
    priv = Ed25519PrivateKey.from_private_bytes(seed_for(name))
    return priv, priv.public_key()


def public_bytes(pub: Ed25519PublicKey) -> bytes:
    from cryptography.hazmat.primitives.serialization import Encoding, PublicFormat

    return pub.public_bytes(Encoding.Raw, PublicFormat.Raw)


def did_key_for(pub: Ed25519PublicKey) -> str:
    """did:key for an Ed25519 key: multicodec ed25519-pub (0xed, varint ->
    0xed 0x01) + raw key, base58btc with 'z' multibase prefix."""
    return "did:key:z" + b58encode(b"\xed\x01" + public_bytes(pub))


# the JOSE header is a constant — encode it once at import instead of a
# json.dumps + b64 per signed token (identical bytes to the former
# per-call encoding; the sign/verify kernels call jwt_sign per row)
_ENC_EDDSA_HEADER = base64.urlsafe_b64encode(
    json.dumps(
        {"alg": "EdDSA", "typ": "JWT"}, sort_keys=True, separators=(",", ":")
    ).encode()
).rstrip(b"=").decode("ascii")


def jwt_sign(claims: dict, priv: Ed25519PrivateKey) -> str:
    """Compact JWS, alg=EdDSA. Deterministic: sorted keys, no whitespace."""
    payload = b64url(
        json.dumps(claims, sort_keys=True, separators=(",", ":")).encode()
    )
    signing_input = f"{_ENC_EDDSA_HEADER}.{payload}"
    sig = priv.sign(signing_input.encode("ascii"))
    return f"{signing_input}.{b64url(sig)}"


def jwt_verify(token: str, pub: Ed25519PublicKey) -> bool:
    try:
        signing_input, sig_b64 = token.rsplit(".", 1)
        pub.verify(b64url_decode(sig_b64), signing_input.encode("ascii"))
        return True
    except (InvalidSignature, ValueError):
        return False


def jwt_claims(token: str) -> dict:
    return json.loads(b64url_decode(token.split(".")[1]))


# ---------------------------------------------------------------------------
# ES256K (secp256k1) + did:ethr + did:web — the other two providers of the
# reference's config matrix (README.md:96-145; resolver factory
# veramo-verifier/src/server.ts:424-477, veramo-agent/src/veramo/
# veramo_resolver_manager.ts:22-64). All from public specs: RFC 8812
# (ES256K JWS), RFC 6979 (deterministic ECDSA), the Keccak/FIPS-202
# permutation, EIP-55 checksum addresses, and the W3C did:web method.
# ---------------------------------------------------------------------------

from cryptography.hazmat.primitives import hashes as _hashes  # noqa: E402
from cryptography.hazmat.primitives.asymmetric import ec as _ec  # noqa: E402
from cryptography.hazmat.primitives.asymmetric.utils import (  # noqa: E402
    decode_dss_signature,
    encode_dss_signature,
)

# secp256k1 group order (public curve parameter)
SECP256K1_N = 0xFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFEBAAEDCE6AF48A03BBFD25E8CD0364141

_KECCAK_RC = (
    0x0000000000000001, 0x0000000000008082, 0x800000000000808A,
    0x8000000080008000, 0x000000000000808B, 0x0000000080000001,
    0x8000000080008081, 0x8000000000008009, 0x000000000000008A,
    0x0000000000000088, 0x0000000080008009, 0x000000008000000A,
    0x000000008000808B, 0x800000000000008B, 0x8000000000008089,
    0x8000000000008003, 0x8000000000008002, 0x8000000000000080,
    0x000000000000800A, 0x800000008000000A, 0x8000000080008081,
    0x8000000000008080, 0x0000000080000001, 0x8000000080008008,
)
# rotation offsets r[x][y] of the rho step
_KECCAK_ROT = (
    (0, 36, 3, 41, 18),
    (1, 44, 10, 45, 2),
    (62, 6, 43, 15, 61),
    (28, 55, 25, 21, 56),
    (27, 20, 39, 8, 14),
)
_M64 = (1 << 64) - 1


def _keccak_f(lanes: list[int]) -> list[int]:
    """Keccak-f[1600] permutation over 25 little-endian 64-bit lanes,
    indexed lane[x + 5*y]."""

    def rol(v: int, s: int) -> int:
        return ((v << s) | (v >> (64 - s))) & _M64

    a = lanes
    for rc in _KECCAK_RC:
        # theta
        c = [a[x] ^ a[x + 5] ^ a[x + 10] ^ a[x + 15] ^ a[x + 20] for x in range(5)]
        d = [c[(x - 1) % 5] ^ rol(c[(x + 1) % 5], 1) for x in range(5)]
        a = [a[i] ^ d[i % 5] for i in range(25)]
        # rho + pi
        b = [0] * 25
        for x in range(5):
            for y in range(5):
                b[y + 5 * ((2 * x + 3 * y) % 5)] = rol(
                    a[x + 5 * y], _KECCAK_ROT[x][y]
                )
        # chi
        a = [
            b[i] ^ ((~b[(i + 1) % 5 + 5 * (i // 5)]) & b[(i + 2) % 5 + 5 * (i // 5)])
            for i in range(25)
        ]
        # iota
        a[0] ^= rc
    return a


def keccak256(data: bytes) -> bytes:
    """Original Keccak-256 (Ethereum's hash) — NOT hashlib.sha3_256, whose
    NIST padding (0x06) differs from Keccak's multi-rate 0x01 padding."""
    rate = 136
    pad_len = rate - (len(data) % rate)
    if pad_len == 1:
        padded = data + b"\x81"
    else:
        padded = data + b"\x01" + b"\x00" * (pad_len - 2) + b"\x80"
    lanes = [0] * 25
    for off in range(0, len(padded), rate):
        block = padded[off : off + rate]
        for i in range(rate // 8):
            lanes[i] ^= int.from_bytes(block[8 * i : 8 * i + 8], "little")
        lanes = _keccak_f(lanes)
    return b"".join(lanes[i].to_bytes(8, "little") for i in range(4))


_NP_KECCAK: dict = {}


def _np_keccak_consts():
    """Precomputed numpy constants for the batched permutation: round
    constants, the rho+pi destination permutation and per-lane rotation
    amounts in flat lane order (lane = x + 5·y)."""
    if not _NP_KECCAK:
        import numpy as np

        dest = [0] * 25
        rot = [0] * 25
        for i in range(25):
            x, y = i % 5, i // 5
            dest[i] = y + 5 * ((2 * x + 3 * y) % 5)
            rot[i] = _KECCAK_ROT[x][y]
        _NP_KECCAK["rc"] = np.array(_KECCAK_RC, dtype=np.uint64)
        _NP_KECCAK["dest"] = np.array(dest, dtype=np.int64)
        _NP_KECCAK["rot"] = np.array(rot, dtype=np.uint64)
        _NP_KECCAK["rot_inv"] = (
            np.uint64(64) - _NP_KECCAK["rot"]
        ) % np.uint64(64)
    return _NP_KECCAK


def _keccak_f_batch(state):
    """Vectorized Keccak-f[1600] over an (m, 25) uint64 state array —
    every numpy op applies to all m sponges at once, so the per-message
    Python interpreter cost is amortized across the whole Arrow batch."""
    import numpy as np

    c = _np_keccak_consts()
    dest, rot, rot_inv = c["dest"], c["rot"], c["rot_inv"]
    a = state
    for rc in c["rc"]:
        # theta
        v = a.reshape(-1, 5, 5)  # [m][y][x]
        cc = np.bitwise_xor.reduce(v, axis=1)  # (m, 5) indexed by x
        d = np.roll(cc, 1, axis=1) ^ (
            (np.roll(cc, -1, axis=1) << np.uint64(1))
            | (np.roll(cc, -1, axis=1) >> np.uint64(63))
        )
        a = (v ^ d[:, None, :]).reshape(-1, 25)
        # rho + pi: b[dest[i]] = rol(a[i], rot[i]); (x<<0)|(x>>0) == x
        b = np.empty_like(a)
        b[:, dest] = (a << rot) | (a >> rot_inv)
        # chi
        vb = b.reshape(-1, 5, 5)
        a = (
            vb ^ (~np.roll(vb, -1, axis=2) & np.roll(vb, -2, axis=2))
        ).reshape(-1, 25)
        # iota
        a[:, 0] ^= rc
    return a


def keccak256_batch(msgs) -> list[bytes]:
    """Keccak-256 over a batch of messages using the vectorized
    permutation. Messages are grouped by padded block count so each group
    runs as one fixed-shape numpy pipeline; ~50-byte RLP preimages are all
    single-block, which is the hot path for keyManagerSignEthTX."""
    import numpy as np

    rate = 136
    out: list[bytes | None] = [None] * len(msgs)
    groups: dict[int, list[int]] = {}
    padded: list[bytes] = []
    for i, m in enumerate(msgs):
        pad_len = rate - (len(m) % rate)
        if pad_len == 1:
            p = m + b"\x81"
        else:
            p = m + b"\x01" + b"\x00" * (pad_len - 2) + b"\x80"
        padded.append(p)
        groups.setdefault(len(p) // rate, []).append(i)
    for nblocks, idxs in groups.items():
        buf = np.frombuffer(
            b"".join(padded[i] for i in idxs), dtype="<u8"
        ).reshape(len(idxs), nblocks, rate // 8)
        state = np.zeros((len(idxs), 25), dtype=np.uint64)
        for blk in range(nblocks):
            state[:, : rate // 8] ^= buf[:, blk, :]
            state = _keccak_f_batch(state)
        digests = state[:, :4].astype("<u8").tobytes()
        for j, i in enumerate(idxs):
            out[i] = digests[32 * j : 32 * j + 32]
    return out  # type: ignore[return-value]


def es256k_keypair_for(
    name: str,
) -> tuple[_ec.EllipticCurvePrivateKey, _ec.EllipticCurvePublicKey]:
    """Deterministic secp256k1 keypair from the same seed derivation as the
    Ed25519 path (seed_for), reduced into [1, n-1]."""
    scalar = int.from_bytes(seed_for(name, "ssi-identity-es256k"), "big")
    scalar = scalar % (SECP256K1_N - 1) + 1
    priv = _ec.derive_private_key(scalar, _ec.SECP256K1())
    return priv, priv.public_key()


def es256k_public_bytes(
    pub: _ec.EllipticCurvePublicKey, compressed: bool = True
) -> bytes:
    from cryptography.hazmat.primitives.serialization import (
        Encoding,
        PublicFormat,
    )

    fmt = (
        PublicFormat.CompressedPoint if compressed else PublicFormat.UncompressedPoint
    )
    return pub.public_bytes(Encoding.X962, fmt)


def eth_address_for(pub: _ec.EllipticCurvePublicKey) -> str:
    """EIP-55 checksummed Ethereum address: keccak256 of the uncompressed
    point (minus the 0x04 prefix), last 20 bytes, mixed-case checksum."""
    raw = keccak256(es256k_public_bytes(pub, compressed=False)[1:])[-20:]
    hex_addr = raw.hex()
    digest = keccak256(hex_addr.encode("ascii")).hex()
    out = []
    for ch, d in zip(hex_addr, digest):
        out.append(ch.upper() if ch.isalpha() and int(d, 16) >= 8 else ch)
    return "0x" + "".join(out)


def did_ethr_for(pub: _ec.EllipticCurvePublicKey, network: str = "sepolia") -> str:
    """did:ethr identifier (checksummed address form), network-qualified as
    in the reference's did:ethr:sepolia configuration."""
    addr = eth_address_for(pub)
    return f"did:ethr:{network}:{addr}" if network else f"did:ethr:{addr}"


def did_web_document_url(did: str) -> str:
    """W3C did:web resolution: the DID transforms to an HTTPS URL —
    bare host -> /.well-known/did.json, path form -> /<path>/did.json.
    (Pure URL derivation; the fetch itself is I/O the caller owns, matching
    the reference's hosted-doc resolver.)"""
    if not did.startswith("did:web:"):
        raise ValueError(f"not a did:web DID: {did}")
    parts = did[len("did:web:") :].split(":")
    host = parts[0].replace("%3A", ":")
    if len(parts) == 1:
        return f"https://{host}/.well-known/did.json"
    return f"https://{host}/" + "/".join(parts[1:]) + "/did.json"


def _low_s(s: int) -> int:
    return SECP256K1_N - s if s > SECP256K1_N // 2 else s


def jwt_sign_es256k(claims: dict, priv: _ec.EllipticCurvePrivateKey) -> str:
    """Compact JWS, alg=ES256K (RFC 8812): signature is raw R||S (64 bytes),
    low-S normalized. RFC 6979 deterministic nonces make the token a pure
    function of (claims, key)."""
    header = {"alg": "ES256K", "typ": "JWT"}

    def enc(obj: dict) -> str:
        return b64url(json.dumps(obj, sort_keys=True, separators=(",", ":")).encode())

    signing_input = f"{enc(header)}.{enc(claims)}"
    der = priv.sign(
        signing_input.encode("ascii"),
        _ec.ECDSA(_hashes.SHA256(), deterministic_signing=True),
    )
    r, s = decode_dss_signature(der)
    s = _low_s(s)
    sig = r.to_bytes(32, "big") + s.to_bytes(32, "big")
    return f"{signing_input}.{b64url(sig)}"


def jwt_verify_es256k(token: str, pub: _ec.EllipticCurvePublicKey) -> bool:
    try:
        signing_input, sig_b64 = token.rsplit(".", 1)
        sig = b64url_decode(sig_b64)
        if len(sig) != 64:
            return False
        r = int.from_bytes(sig[:32], "big")
        s = int.from_bytes(sig[32:], "big")
        der = encode_dss_signature(r, s)
        pub.verify(der, signing_input.encode("ascii"), _ec.ECDSA(_hashes.SHA256()))
        return True
    except (InvalidSignature, ValueError):
        return False


# ---------------------------------------------------------------------------
# DID resolution (U5): did:key / did:web / did:ethr documents, offline.
# Mirrors the reference's resolver map (veramo-agent/src/veramo/
# veramo_resolver_manager.ts:22-64) for the three methods its config
# matrix uses; did:web returns the document URL the hosted did.json lives
# at (the HTTP fetch is the caller's I/O, as in web-did-resolver).
# ---------------------------------------------------------------------------


def b58decode(s: str) -> bytes:
    n = 0
    for ch in s:
        idx = _B58_ALPHABET.find(ch)
        if idx < 0:
            raise ValueError(f"invalid base58 character {ch!r}")
        n = n * 58 + idx
    out = n.to_bytes((n.bit_length() + 7) // 8, "big") if n else b""
    pad = 0
    for ch in s:
        if ch == "1":
            pad += 1
        else:
            break
    return b"\x00" * pad + out


def jwk_for_public_key(pub) -> dict:
    """RFC 7517 JWK for an Ed25519 or secp256k1 public key (the two key
    types the reference's providers use): OKP/Ed25519 with the raw key as
    ``x``; EC/secp256k1 with affine coordinates ``x``/``y``."""
    if isinstance(pub, Ed25519PublicKey):
        return {"crv": "Ed25519", "kty": "OKP", "x": b64url(public_bytes(pub))}
    nums = pub.public_numbers()
    return {
        "crv": "secp256k1",
        "kty": "EC",
        "x": b64url(nums.x.to_bytes(32, "big")),
        "y": b64url(nums.y.to_bytes(32, "big")),
    }


def jwk_thumbprint(jwk: dict) -> str:
    """RFC 7638 thumbprint: sha256 over the canonical JSON of ONLY the
    required members (crv/kty/x[/y] for OKP and EC), lexicographic key
    order, no whitespace — base64url, the standard ``kid``."""
    required = {"OKP": ("crv", "kty", "x"), "EC": ("crv", "kty", "x", "y")}
    keys = required.get(jwk.get("kty"))
    if keys is None:
        raise ValueError(f"unsupported JWK kty {jwk.get('kty')!r}")
    absent = [k for k in keys if k not in jwk]
    if absent:
        raise ValueError(f"JWK missing required members {absent}")
    canon = json.dumps(
        {k: jwk[k] for k in sorted(keys)}, separators=(",", ":"), sort_keys=True
    )
    return b64url(hashlib.sha256(canon.encode("ascii")).digest())


def did_peer_for(pub: Ed25519PublicKey) -> str:
    """did:peer numalgo 0: '0' + the did:key multibase of the same key."""
    return "did:peer:0" + did_key_for(pub)[len("did:key:") :]


def did_pkh_for(pub: _ec.EllipticCurvePublicKey, network: str = "sepolia") -> str:
    """did:pkh (CAIP-10 account DID) for a secp256k1 key on an eip155 chain."""
    return f"did:pkh:eip155:{_ETH_CHAIN_IDS.get(network, 0)}:{eth_address_for(pub)}"


def did_jwk_for(pub) -> str:
    """did:jwk method identifier: base64url of the canonical JWK JSON —
    a pure function of the key, as in the reference's resolver factory
    (did-jwk registered alongside key/web/ethr,
    veramo-verifier/src/server.ts:424-477)."""
    jwk = jwk_for_public_key(pub)
    canon = json.dumps(jwk, separators=(",", ":"), sort_keys=True)
    return "did:jwk:" + b64url(canon.encode("ascii"))


def resolve_did(did: str) -> dict:
    """Resolve a DID to a (minimal) DID document, offline.

    - did:key: decodes the multibase key — verifies the multicodec is
      ed25519-pub (0xed 0x01) and recovers the raw public key;
    - did:web: derives the hosted document URL per the W3C method spec;
    - did:ethr: parses network + EIP-55 address and validates the checksum;
    - did:jwk: decodes the embedded JWK and validates its required members
      (verificationMethod ``#0``, JsonWebKey2020, RFC 7638 kid);
    - did:peer: numalgo 0 (inception key) — the did:key encoding, peer-id'd;
    - did:pkh: CAIP-10 account DIDs, with EIP-55 validation for eip155.

    Covers the reference resolver factory's method list
    (key/web/ethr/jwk/peer/pkh, veramo-verifier/src/server.ts:424-477);
    its universal-resolver HTTP fallback is deliberately out of scope
    offline. Raises ValueError for malformed DIDs — the resolver-level
    error the reference surfaces as a resolution failure."""
    if did.startswith("did:key:"):
        mb = did[len("did:key:") :]
        if not mb.startswith("z"):
            raise ValueError("did:key must be base58btc multibase ('z')")
        raw = b58decode(mb[1:])
        if raw[:2] != b"\xed\x01" or len(raw) != 34:
            raise ValueError("did:key is not an ed25519-pub multicodec key")
        key = raw[2:]
        return {
            "id": did,
            "verificationMethod": [
                {
                    "id": f"{did}#{mb}",
                    "type": "Ed25519VerificationKey2020",
                    "controller": did,
                    "publicKeyHex": key.hex(),
                }
            ],
        }
    if did.startswith("did:web:"):
        url = did_web_document_url(did)
        return {
            "id": did,
            "documentUrl": url,
            "verificationMethod": [],  # filled from the fetched did.json
        }
    if did.startswith("did:ethr:"):
        rest = did[len("did:ethr:") :]
        parts = rest.split(":")
        if len(parts) == 1:
            network, addr = "mainnet", parts[0]
        elif len(parts) == 2:
            network, addr = parts
        else:
            raise ValueError(f"malformed did:ethr: {did}")
        if not (addr.startswith("0x") and len(addr) == 42):
            raise ValueError(f"malformed ethereum address {addr!r}")
        hex_addr = addr[2:]
        # EIP-55: if mixed case, the checksum must be valid
        if hex_addr != hex_addr.lower() and hex_addr != hex_addr.upper():
            digest = keccak256(hex_addr.lower().encode("ascii")).hex()
            for ch, d in zip(hex_addr, digest):
                want_upper = ch.isalpha() and int(d, 16) >= 8
                if ch.isalpha() and ch.isupper() != want_upper:
                    raise ValueError(f"EIP-55 checksum mismatch in {addr}")
        return {
            "id": did,
            "network": network,
            "verificationMethod": [
                {
                    "id": f"{did}#controller",
                    "type": "EcdsaSecp256k1RecoveryMethod2020",
                    "controller": did,
                    "blockchainAccountId": f"eip155:{_ETH_CHAIN_IDS.get(network, 0)}:{addr}",
                }
            ],
        }
    if did.startswith("did:peer:"):
        # method 0 (inception key without doc): did:peer:0z<multibase> —
        # the numalgo-0 form is the did:key encoding with a '0' prefix
        rest = did[len("did:peer:") :]
        if not rest.startswith("0z"):
            raise ValueError("only did:peer numalgo 0 (inception key) supported")
        key_doc = resolve_did("did:key:" + rest[1:])
        vm = dict(key_doc["verificationMethod"][0])
        vm["id"] = f"{did}#key-1"
        vm["controller"] = did
        return {"id": did, "verificationMethod": [vm]}
    if did.startswith("did:pkh:"):
        # did:pkh:<caip2-namespace>:<chain-ref>:<account> — for eip155 the
        # account is an Ethereum address (EIP-55 checksum when mixed-case)
        parts = did[len("did:pkh:") :].split(":")
        if len(parts) != 3 or not all(parts):
            raise ValueError(f"malformed did:pkh (want namespace:chain:account): {did}")
        namespace, chain, account = parts
        if namespace == "eip155":
            # reuse the did:ethr address validation (incl. EIP-55)
            resolve_did(f"did:ethr:{account}")
        return {
            "id": did,
            "verificationMethod": [
                {
                    "id": f"{did}#blockchainAccountId",
                    "type": "EcdsaSecp256k1RecoveryMethod2020",
                    "controller": did,
                    "blockchainAccountId": f"{namespace}:{chain}:{account}",
                }
            ],
        }
    if did.startswith("did:jwk:"):
        try:
            jwk = json.loads(b64url_decode(did[len("did:jwk:") :]).decode("utf-8"))
        except Exception as exc:
            raise ValueError(f"malformed did:jwk payload: {exc}") from exc
        if not isinstance(jwk, dict):
            raise ValueError("did:jwk payload is not a JWK object")
        thumb = jwk_thumbprint(jwk)  # validates kty + required members
        missing = [k for k in ("crv", "x") if not jwk.get(k)]
        if missing:
            raise ValueError(f"did:jwk missing required members {missing}")
        return {
            "id": did,
            "verificationMethod": [
                {
                    "id": f"{did}#0",
                    "type": "JsonWebKey2020",
                    "controller": did,
                    "publicKeyJwk": jwk,
                    "kid": thumb,
                }
            ],
        }
    raise ValueError(f"unsupported DID method: {did}")


# public chain ids for the networks the reference configures
_ETH_CHAIN_IDS = {"mainnet": 1, "sepolia": 11155111}


# ---------------------------------------------------------------------------
# JWE: ECDH-ES (X25519) + A256GCM compact serialization — the
# keyManagerEncryptJWE / keyManagerDecryptJWE surface
# (veramo-agent/src/constants/veramo-methods.ts: Key Management). RFC 7516
# framing, RFC 7518 §4.6 direct key agreement with the one-step Concat KDF
# (NIST SP 800-56A §5.8.1), RFC 8037 X25519 epk.
#
# DETERMINISM (engine deviation, documented): a live agent randomizes the
# ephemeral key and IV; here both derive from sha256 of (recipient,
# plaintext) so the token is a pure function of the row and the DuckDB
# oracle can checksum the cycle. The KDF/wrap/encrypt math is unchanged.
# ---------------------------------------------------------------------------

from cryptography.hazmat.primitives.asymmetric.x25519 import (  # noqa: E402
    X25519PrivateKey,
    X25519PublicKey,
)
from cryptography.hazmat.primitives.ciphers.aead import AESGCM  # noqa: E402


def x25519_keypair_for(name: str) -> tuple[X25519PrivateKey, X25519PublicKey]:
    priv = X25519PrivateKey.from_private_bytes(
        seed_for(name, namespace="ssi-x25519")
    )
    return priv, priv.public_key()


def _x25519_raw(pub: X25519PublicKey) -> bytes:
    from cryptography.hazmat.primitives.serialization import (
        Encoding,
        PublicFormat,
    )

    return pub.public_bytes(Encoding.Raw, PublicFormat.Raw)


def _concat_kdf_sha256(z: bytes, alg: str, keydatalen_bits: int) -> bytes:
    """One-step SHA-256 Concat KDF with JWA's OtherInfo (alg as AlgorithmID,
    empty apu/apv, keydatalen as SuppPubInfo) — single round suffices for
    a 256-bit key."""

    def _lp(b: bytes) -> bytes:
        return len(b).to_bytes(4, "big") + b

    other = (
        _lp(alg.encode())
        + _lp(b"")
        + _lp(b"")
        + keydatalen_bits.to_bytes(4, "big")
    )
    return hashlib.sha256(
        (1).to_bytes(4, "big") + z + other
    ).digest()[: keydatalen_bits // 8]


def jwe_encrypt_deterministic(plaintext: bytes, recipient: str) -> str:
    """Compact JWE for the recipient's deterministic X25519 key.

    SECURITY GUARD: the ephemeral key AND the GCM IV are derived from
    sha256(recipient, plaintext), so equal plaintexts to the same
    recipient produce byte-identical tokens. This deliberately trades
    IND-CPA (message-equality leaks) for the reproducibility the DuckDB
    oracle compare requires. NEVER reuse this primitive where real
    confidentiality is expected — a production JWE must draw the
    ephemeral key and IV from a CSPRNG per encryption."""
    _, rec_pub = x25519_keypair_for(recipient)
    det = hashlib.sha256(b"ssi-jwe|" + recipient.encode() + b"|" + plaintext)
    eph_priv = X25519PrivateKey.from_private_bytes(det.digest())
    z = eph_priv.exchange(rec_pub)
    cek = _concat_kdf_sha256(z, "A256GCM", 256)
    header = {
        "alg": "ECDH-ES",
        "enc": "A256GCM",
        "epk": {
            "kty": "OKP",
            "crv": "X25519",
            "x": b64url(_x25519_raw(eph_priv.public_key())),
        },
    }
    protected = b64url(
        json.dumps(header, separators=(",", ":"), sort_keys=True).encode()
    )
    iv = hashlib.sha256(b"ssi-jwe-iv|" + det.digest()).digest()[:12]
    ct_tag = AESGCM(cek).encrypt(iv, plaintext, protected.encode())
    ct, tag = ct_tag[:-16], ct_tag[-16:]
    # ECDH-ES direct: the encrypted-key segment is empty
    return ".".join(
        [protected, "", b64url(iv), b64url(ct), b64url(tag)]
    )


def jwe_decrypt(token: str, recipient: str) -> bytes | None:
    """Decrypt a compact JWE with the recipient's key; None on any
    failure (bad framing, wrong epk, GCM tag mismatch)."""
    try:
        protected, enc_key, iv_s, ct_s, tag_s = token.split(".")
        if enc_key != "":
            return None
        header = json.loads(b64url_decode(protected))
        if header.get("alg") != "ECDH-ES" or header.get("enc") != "A256GCM":
            return None
        eph_pub = X25519PublicKey.from_public_bytes(
            b64url_decode(header["epk"]["x"])
        )
        rec_priv, _ = x25519_keypair_for(recipient)
        cek = _concat_kdf_sha256(rec_priv.exchange(eph_pub), "A256GCM", 256)
        return AESGCM(cek).decrypt(
            b64url_decode(iv_s),
            b64url_decode(ct_s) + b64url_decode(tag_s),
            protected.encode(),
        )
    except Exception:
        return None


# ---------------------------------------------------------------------------
# Ethereum legacy transaction signing (keyManagerSignEthTX): RLP encoding
# per the Ethereum yellow paper appendix B, EIP-155 replay-protected
# preimage, keccak-256 digest, RFC 6979 deterministic ECDSA over secp256k1
# with low-S normalization (the consensus rule).
# ---------------------------------------------------------------------------


def rlp_encode(item) -> bytes:
    """Minimal RLP: ints (minimal big-endian, 0 -> empty string), bytes,
    and lists thereof."""
    if isinstance(item, int):
        item = b"" if item == 0 else item.to_bytes(
            (item.bit_length() + 7) // 8, "big"
        )
    if isinstance(item, bytes):
        if len(item) == 1 and item[0] <= 0x7F:
            return item
        if len(item) < 56:
            return bytes([0x80 + len(item)]) + item
        blen = len(item).to_bytes(
            (len(item).bit_length() + 7) // 8, "big"
        )
        return bytes([0xB7 + len(blen)]) + blen + item
    payload = b"".join(rlp_encode(x) for x in item)
    if len(payload) < 56:
        return bytes([0xC0 + len(payload)]) + payload
    blen = len(payload).to_bytes((len(payload).bit_length() + 7) // 8, "big")
    return bytes([0xF7 + len(blen)]) + blen + payload


ETH_CHAIN_ID = 11155111  # sepolia, matching did:ethr's default network

# secp256k1 field prime and base point (public curve parameters)
SECP256K1_P = 2**256 - 2**32 - 977
SECP256K1_GX = 0x79BE667EF9DCBBAC55A06295CE870B07029BFCDB2DCE28D959F2815B16F81798
SECP256K1_GY = 0x483ADA7726A3C4655DA4FBFC0E1108A8FD17B448A68554199C47D08FFB10D4B8


def _jac_double(p):
    """Point doubling in Jacobian coordinates over secp256k1 (a=0)."""
    x, y, z = p
    if y == 0:
        return (0, 1, 0)
    P = SECP256K1_P
    ysq = (y * y) % P
    s = (4 * x * ysq) % P
    m = (3 * x * x) % P
    nx = (m * m - 2 * s) % P
    ny = (m * (s - nx) - 8 * ysq * ysq) % P
    nz = (2 * y * z) % P
    return (nx, ny, nz)


def _jac_add_affine(p, q_aff):
    """Mixed Jacobian + affine addition (q has z=1)."""
    if p[2] == 0:
        return (q_aff[0], q_aff[1], 1)
    P = SECP256K1_P
    x1, y1, z1 = p
    x2, y2 = q_aff
    z1sq = (z1 * z1) % P
    u2 = (x2 * z1sq) % P
    s2 = (y2 * z1sq * z1) % P
    if u2 == x1:
        if s2 != y1:
            return (0, 1, 0)
        return _jac_double(p)
    h = (u2 - x1) % P
    hsq = (h * h) % P
    hcu = (hsq * h) % P
    rr = (s2 - y1) % P
    nx = (rr * rr - hcu - 2 * x1 * hsq) % P
    ny = (rr * (x1 * hsq - nx) - y1 * hcu) % P
    nz = (z1 * h) % P
    return (nx, ny, nz)


def _jac_to_affine(p):
    if p[2] == 0:
        return None
    P = SECP256K1_P
    zinv = pow(p[2], -1, P)
    zinv2 = (zinv * zinv) % P
    return ((p[0] * zinv2) % P, (p[1] * zinv2 * zinv) % P)


def _point_mult(k: int, q_aff) -> tuple | None:
    """MSB-first double-and-add scalar multiplication of an arbitrary
    affine point: the accumulator stays Jacobian throughout, so the whole
    multiplication costs exactly one modular inversion (the final affine
    conversion)."""
    acc = (0, 1, 0)
    for bit in bin(k)[2:]:
        acc = _jac_double(acc)
        if bit == "1":
            acc = _jac_add_affine(acc, q_aff)
    return _jac_to_affine(acc)


_G_TABLE: list[list[tuple]] | None = None


def _g_table() -> list[list[tuple]]:
    """8-bit fixed-base window table for G: table[w][d-1] = (d << 8w)·G in
    affine coordinates. Built once per process (32 windows × 255 entries,
    ~50 ms); makes every later G-multiplication 32 mixed additions — the
    dominant cost of a pure-Python recoverable ECDSA sign."""
    global _G_TABLE
    if _G_TABLE is None:
        table = []
        base = (SECP256K1_GX, SECP256K1_GY)
        for _ in range(32):
            row = [base]
            acc = (base[0], base[1], 1)
            for _ in range(254):
                acc = _jac_add_affine(acc, base)
                row.append(_jac_to_affine(acc))
            table.append(row)
            nxt = _jac_add_affine(acc, base)  # 256·(current base)
            base = _jac_to_affine(nxt)
        _G_TABLE = table
    return _G_TABLE


def _g_mult(k: int) -> tuple | None:
    """k·G via the fixed-base window table (fast path for signing)."""
    k %= SECP256K1_N
    table = _g_table()
    acc = (0, 1, 0)
    w = 0
    while k:
        d = k & 0xFF
        if d:
            acc = _jac_add_affine(acc, table[w][d - 1])
        k >>= 8
        w += 1
    return _jac_to_affine(acc)


def rfc6979_k(x: int, digest: bytes) -> int:
    """RFC 6979 deterministic ECDSA nonce for SHA-256 over secp256k1 —
    the same derivation the OpenSSL deterministic signer uses, so (r, s)
    from this path byte-match `priv.sign(..., deterministic_signing=True)`."""
    import hmac as _hmac

    n = SECP256K1_N
    h1 = int.from_bytes(digest, "big") % n
    bx = x.to_bytes(32, "big") + h1.to_bytes(32, "big")
    v = b"\x01" * 32
    k = b"\x00" * 32
    k = _hmac.new(k, v + b"\x00" + bx, hashlib.sha256).digest()
    v = _hmac.new(k, v, hashlib.sha256).digest()
    k = _hmac.new(k, v + b"\x01" + bx, hashlib.sha256).digest()
    v = _hmac.new(k, v, hashlib.sha256).digest()
    while True:
        v = _hmac.new(k, v, hashlib.sha256).digest()
        cand = int.from_bytes(v, "big")
        if 1 <= cand < n:
            return cand
        k = _hmac.new(k, v + b"\x00", hashlib.sha256).digest()
        v = _hmac.new(k, v, hashlib.sha256).digest()


def ecdsa_sign_recoverable(priv_scalar: int, digest: bytes) -> tuple[int, int, int]:
    """Deterministic (RFC 6979) recoverable ECDSA over secp256k1: returns
    (r, s, recovery_id) with low-S normalization. recovery_id is the parity
    of R.y, flipped when s is negated for low-S (negating s mirrors R)."""
    n = SECP256K1_N
    z = int.from_bytes(digest, "big") % n
    while True:
        k = rfc6979_k(priv_scalar, digest)
        R = _g_mult(k)
        r = R[0] % n
        if r == 0:
            digest = hashlib.sha256(digest).digest()
            continue
        s = (pow(k, -1, n) * (z + r * priv_scalar)) % n
        if s == 0:
            digest = hashlib.sha256(digest).digest()
            continue
        rec_id = R[1] & 1
        if s > n // 2:
            s = n - s
            rec_id ^= 1
        return r, s, rec_id


def ecdsa_recover_pubkey(digest: bytes, r: int, s: int, rec_id: int):
    """Recover the signer's affine public point from (digest, r, s,
    recovery_id): lift x=r to the curve with the parity rec_id selects,
    then Q = r⁻¹·(s·R − z·G). Returns None when r does not lift."""
    n, P = SECP256K1_N, SECP256K1_P
    x = r + (rec_id >> 1) * n
    if x >= P:
        return None
    y_sq = (pow(x, 3, P) + 7) % P
    y = pow(y_sq, (P + 1) // 4, P)
    if (y * y) % P != y_sq:
        return None
    if (y & 1) != (rec_id & 1):
        y = P - y
    z = int.from_bytes(digest, "big") % n
    rinv = pow(r, -1, n)
    u1 = (-z * rinv) % n
    u2 = (s * rinv) % n
    # Q = u1·G + u2·R
    p1 = _g_mult(u1)
    p2 = _point_mult(u2, (x, y))
    if p1 is None:
        return p2
    if p2 is None:
        return p1
    return _jac_to_affine(_jac_add_affine((p1[0], p1[1], 1), p2))


def eth_address_from_point(point) -> str:
    """Checksummed address from an affine (x, y) public point."""
    raw = keccak256(
        point[0].to_bytes(32, "big") + point[1].to_bytes(32, "big")
    )[-20:]
    hex_addr = raw.hex()
    digest = keccak256(hex_addr.encode("ascii")).hex()
    out = []
    for ch, d in zip(hex_addr, digest):
        out.append(ch.upper() if ch.isalpha() and int(d, 16) >= 8 else ch)
    return "0x" + "".join(out)


def eth_recover_address(
    digest: bytes, v: int, r: int, s: int, chain_id: int = ETH_CHAIN_ID
) -> str | None:
    """Independent EIP-155 recovery: (v, r, s) → signer address, the exact
    computation an Ethereum node performs on a broadcast raw transaction."""
    rec_id = v - chain_id * 2 - 35
    if rec_id not in (0, 1, 2, 3):
        return None
    q = ecdsa_recover_pubkey(digest, r, s, rec_id)
    return None if q is None else eth_address_from_point(q)


def eth_sign_tx(
    priv: _ec.EllipticCurvePrivateKey,
    nonce: int,
    gas_price: int,
    gas_limit: int,
    to: bytes,
    value: int,
    data: bytes = b"",
    chain_id: int = ETH_CHAIN_ID,
    tx_hash: bytes | None = None,
) -> dict:
    """Sign a legacy tx (EIP-155 preimage): RLP-encode, keccak-256, sign
    recoverably (RFC 6979 deterministic, low-S), and produce the FULL
    broadcastable output the reference's keyManagerSignEthTX returns —
    the EIP-155 recovery value v = chain_id·2 + 35 + recovery_id and the
    signed raw transaction rlp([nonce, gasPrice, gasLimit, to, value,
    data, v, r, s]). ``tx_hash`` short-circuits the digest for callers
    that batch keccak via keccak256_batch."""
    unsigned = rlp_encode(
        [nonce, gas_price, gas_limit, to, value, data, chain_id, 0, 0]
    )
    h = tx_hash if tx_hash is not None else keccak256(unsigned)
    d = priv.private_numbers().private_value
    r, s, rec_id = ecdsa_sign_recoverable(d, h)
    v = chain_id * 2 + 35 + rec_id
    raw_tx = rlp_encode(
        [
            nonce,
            gas_price,
            gas_limit,
            to,
            value,
            data,
            v,
            r.to_bytes((r.bit_length() + 7) // 8, "big"),
            s.to_bytes((s.bit_length() + 7) // 8, "big"),
        ]
    )
    return {
        "rlp_unsigned_len": len(unsigned),
        "tx_hash": h,
        "r": r,
        "s": s,
        "v": v,
        "rec_id": rec_id,
        "raw_tx": raw_tx,
        "low_s": s <= SECP256K1_N // 2,
    }


def eth_verify_tx_sig(
    pub: _ec.EllipticCurvePublicKey, tx_hash: bytes, r: int, s: int
) -> bool:
    from cryptography.hazmat.primitives.asymmetric.utils import Prehashed

    try:
        pub.verify(
            encode_dss_signature(r, s),
            tx_hash,
            _ec.ECDSA(Prehashed(_hashes.SHA256())),
        )
        return True
    except (InvalidSignature, ValueError):
        return False
