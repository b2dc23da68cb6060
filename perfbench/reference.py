"""Pure-Python reference for the payloads the pipeline must send.

Written from the reference mappers' rules (strip + lower + SHA-256, gmail
dot removal on the local part, empty string treated as absent, the
all-or-nothing address quadruple), not from the Spark code, so the payload
digest checks the program against an independent computation.
"""

from __future__ import annotations

import hashlib
import json
import re
from typing import Any, Iterable, Optional

Row = dict[str, Any]

_GMAIL = re.compile(r"(gmail|googlemail)\.com")
_DIGEST_MOD = 1 << 128


def hash_field(value: str) -> str:
    return hashlib.sha256(value.strip().lower().encode("utf-8")).hexdigest()


def normalize_email(value: str) -> str:
    lowered = value.lower()
    parts = lowered.split("@")
    if len(parts) < 2:
        return value
    local = parts[0]
    if _GMAIL.fullmatch(parts[1]):
        local = local.replace(".", "")
    return "@".join([local] + parts[1:])


def hash_email(value: str) -> str:
    return hash_field(normalize_email(value))


def present(value: Optional[str]) -> bool:
    return value is not None and value != ""


def _hashed(value: Optional[str], email: bool = False) -> Optional[str]:
    if not present(value):
        return None
    return hash_email(value) if email else hash_field(value)


def _non_empty(row: Row) -> Optional[Row]:
    return row if any(v is not None for v in row.values()) else None


def ads_contact_payload(src: Row) -> Optional[Row]:
    """ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD row, or None when dropped."""
    address = None
    quad = [src["mailing_address_first_name"], src["mailing_address_last_name"],
            src["mailing_address_country"], src["mailing_address_zip"]]
    if all(present(v) for v in quad):
        address = {
            "hashed_first_name": hash_field(quad[0]),
            "hashed_last_name": hash_field(quad[1]),
            "country_code": quad[2],
            "postal_code": quad[3],
        }
    return _non_empty({
        "hashed_email": _hashed(src["email"], email=True),
        "hashed_phone_number": _hashed(src["phone"]),
        "address_info": address,
    })


def ads_mobile_payload(src: Row) -> Optional[Row]:
    """ADS_CUSTOMER_MATCH_MOBILE_DEVICE_ID_UPLOAD row (id is not hashed)."""
    device = src["mobile_device_id"]
    return {"mobile_id": device} if present(device) else None


def dv_contact_payload(src: Row) -> Optional[Row]:
    """DV_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD row; the DV schema projects the
    ``*_name`` country and zip columns."""
    quad = [src["mailing_address_first_name"], src["mailing_address_last_name"],
            src["mailing_address_country_name"], src["mailing_address_zip_name"]]
    full = all(present(v) for v in quad)
    return _non_empty({
        "hashedEmails": _hashed(src["email"], email=True),
        "hashedPhoneNumbers": _hashed(src["phone"]),
        "hashedFirstName": hash_field(quad[0]) if full else None,
        "hashedLastName": hash_field(quad[1]) if full else None,
        "countryCode": quad[2] if full else None,
        "zipCodes": quad[3] if full else None,
    })


def conversion_payload(src: Row) -> Row:
    """ADS_OFFLINE_CONVERSION row: the projected columns, unchanged."""
    return {"gclid": src["gclid"], "time": src["time"], "amount": src["amount"]}


def row_digest(row: Row) -> int:
    """128-bit digest of one payload row, independent of key order."""
    blob = json.dumps(row, sort_keys=True, separators=(",", ":"), ensure_ascii=False)
    return int.from_bytes(hashlib.sha256(blob.encode("utf-8")).digest()[:16], "big")


def payload_digest(rows: Iterable[Row]) -> int:
    """Order-independent multiset digest: the sum of row digests mod 2**128,
    so a duplicated or missing row changes it."""
    return sum(row_digest(r) for r in rows) % _DIGEST_MOD


def combine(digests: Iterable[int]) -> int:
    return sum(digests) % _DIGEST_MOD
