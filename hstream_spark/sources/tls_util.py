"""Shared mTLS client-certificate handling for the wire clients.

One place for the option rules the Kafka, MongoDB, and Elasticsearch
clients must agree on (a divergence here is how the round-7 review
found Mongo silently dropping ``tls_keyfile``):

- ``tls_keyfile`` without ``tls_certfile`` is a configuration error,
  never silently ignored — the user believes mTLS is in effect.
- missing/unreadable files fail at validation time (CREATE for the
  connectors), not on the first poll/batch.
- a bad PEM fails with the connector's own error class and closes the
  half-open socket if one was passed.
"""

from __future__ import annotations

import os
import ssl
from typing import Optional


def validate_client_cert_opts(
    certfile: Optional[str],
    keyfile: Optional[str],
    err_cls: type,
    label: str = "TLS",
) -> None:
    """Option-surface rules, raised as ``err_cls`` (DDL-time check)."""
    if keyfile and not certfile:
        raise err_cls(
            f"{label}_KEYFILE requires {label}_CERTFILE (the certificate "
            "the key belongs to)"
        )
    if certfile:
        for suffix, path in (("CERTFILE", certfile), ("KEYFILE", keyfile)):
            if path and not os.path.exists(str(path)):
                raise err_cls(f"{label}_{suffix}={path!r} does not exist")


def load_client_cert(
    ctx: ssl.SSLContext,
    certfile: Optional[str],
    keyfile: Optional[str],
    err_cls: type,
    label: str,
    sock=None,
) -> None:
    """Load the client certificate chain into ``ctx`` (connect-time)."""
    if keyfile and not certfile:
        raise err_cls(
            f"{label}: tls_keyfile requires tls_certfile (the certificate "
            "the key belongs to)"
        )
    if not certfile:
        return
    try:
        ctx.load_cert_chain(str(certfile), str(keyfile) if keyfile else None)
    except (OSError, ssl.SSLError) as exc:
        if sock is not None:
            try:
                sock.close()
            except OSError:
                pass
        raise err_cls(
            f"{label} TLS client certificate load failed: {exc}"
        ) from exc
