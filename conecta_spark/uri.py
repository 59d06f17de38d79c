"""Connection-string dispatch (reference: conecta-core/src/source/mod.rs:33-70).

Accepts conecta-style URIs (``postgres://``, ``postgresql://``, SQLAlchemy
``postgres+psycopg2://``) and rewrites them to Spark JDBC URLs, any
``jdbc:`` URL as is (read through the driver registered for it), plus local
filesystem paths / ``file://`` for the parquet catalog source.  Unknown
schemes raise (the reference panics; source/mod.rs:66-69).
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass
from urllib.parse import unquote, urlparse

_PG_SCHEMES = {"postgres", "postgresql", "postgres+psycopg2", "postgresql+psycopg2"}


_FILE_SCHEMES = {"csv", "json", "orc", "parquet"}


@dataclass(frozen=True)
class SourceSpec:
    kind: str                     # "parquet" | "csv" | "json" | "orc" | "postgres" | "jdbc"
    location: str                 # directory path or JDBC URL
    user: str | None = None
    password: str | None = None


def parse_uri(conn: str) -> SourceSpec:
    """Classify a connection string. Order matters: a Windows-free world of
    bare paths has no scheme, so check the filesystem forms first."""
    if conn.startswith("file://"):
        return SourceSpec(kind="parquet", location=conn.removeprefix("file://"))
    if conn.startswith("jdbc:"):
        return SourceSpec(kind="jdbc", location=conn)
    if "://" not in conn:
        if os.path.isdir(conn) or conn.endswith(".parquet"):
            return SourceSpec(kind="parquet", location=conn)
        raise ValueError(
            f"cannot infer source from {conn!r}: not a directory, not a URI"
        )
    scheme = conn.split("://", 1)[0].lower()
    if scheme in _PG_SCHEMES:
        return _postgres_spec(conn)
    if scheme in _FILE_SCHEMES:
        # csv:///data/dir, json://relative/dir, orc:///..., parquet:///...
        return SourceSpec(kind=scheme, location=conn.split("://", 1)[1])
    raise ValueError(f"unsupported connection scheme {scheme!r} in {conn!r}")


def _postgres_spec(conn: str) -> SourceSpec:
    # Normalize SQLAlchemy driver suffix before urlparse.
    normalized = re.sub(r"^[A-Za-z0-9+]+://", "postgresql://", conn)
    u = urlparse(normalized)
    host = u.hostname or "localhost"
    port = u.port or 5432
    db = (u.path or "/").lstrip("/") or "postgres"
    jdbc = f"jdbc:postgresql://{host}:{port}/{db}"
    user = unquote(u.username) if u.username else None
    password = unquote(u.password) if u.password else None
    return SourceSpec(kind="postgres", location=jdbc, user=user, password=password)
