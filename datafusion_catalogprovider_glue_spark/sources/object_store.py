"""Per-bucket object-store registry (SURVEY.md §2-A22).

The reference demo wires a lazy per-bucket S3 store registry into
DataFusion: each bucket gets its own credentials/region, created on
first use (demo.rs:126-196 — ``get_store`` lazy path 186-195, builder
155-171).  Spark's equivalent is Hadoop S3A configuration: global
``fs.s3a.*`` keys plus per-bucket overrides ``fs.s3a.bucket.<name>.*``
that S3A resolves with exactly the same precedence (bucket-specific
wins).  This module is that translation, kept testable without AWS:
``S3StoreRegistry`` only writes Hadoop conf keys; the live path is
exercised the first time an executor opens an ``s3a://`` split.

Local filesystem paths (the test environment) need no registry —
``file:`` URLs bypass S3A entirely, mirroring how the reference's
tests never touch its registry either (SURVEY.md §5).

It also holds the one normalizer of the file URIs Spark reports
(``file_path_col``, with its driver-side twin ``norm_file_path``),
which the lake readers and writers match data rows to files with.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass
from typing import Optional
from urllib.parse import urlparse

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

# any URI scheme prefix: Hadoop renders one file as file:/p, file:///p
# or s3a://b/p depending on who wrote the path down
_SCHEME_RE = r"^[a-z][a-z0-9+.\-]*:/+"


def file_path_col(col: Column, root: Optional[str] = None) -> Column:
    """``col`` (a ``_metadata.file_path`` or a path a delete file
    records) with its scheme prefix collapsed to a single leading "/",
    so a data row's file and a log- or delete-file-derived path compare
    equal.  With ``root`` (a table location), a relative path is first
    resolved against it.  :func:`norm_file_path` is the driver-side
    twin."""
    if root is not None:
        col = F.when(col.rlike(_SCHEME_RE) | col.startswith("/"), col).otherwise(
            F.concat(F.lit(os.path.abspath(root) + "/"), col)
        )
    return F.regexp_replace(col, _SCHEME_RE, "/")


def norm_file_path(path: str, root: Optional[str] = None) -> str:
    """:func:`file_path_col` for one driver-side path string."""
    if root is not None and not (re.match(_SCHEME_RE, path) or path.startswith("/")):
        path = os.path.abspath(root) + "/" + path
    return re.sub(_SCHEME_RE, "/", path)


@dataclass(frozen=True)
class S3Credentials:
    """One bucket's credentials — the same fields the reference's
    builder consumes (demo.rs:155-171): access key, secret, optional
    session token, region."""

    access_key: str
    secret_key: str
    session_token: Optional[str] = None
    region: Optional[str] = None
    endpoint: Optional[str] = None  # for S3-compatible stores
    # S3-compatible stores (MinIO, moto, Ceph RGW) usually serve
    # path-style URLs (endpoint/bucket/key) instead of AWS's
    # virtual-hosted style (bucket.endpoint/key)
    path_style: bool = False


class S3StoreRegistry:
    """Registers per-bucket S3A configuration on a SparkSession.

    Mirrors the reference's ``ObjectStoreRegistry``: one registry per
    session, buckets registered lazily/idempotently, and URL → bucket
    resolution for callers that hold a table location.
    """

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._registered: set[str] = set()

    @staticmethod
    def bucket_of(url: str) -> str:
        """s3://bucket/prefix → bucket (error on non-S3 schemes, like
        the reference's ``Unsupported scheme`` error, demo.rs:183)."""
        parsed = urlparse(url)
        if parsed.scheme not in ("s3", "s3a", "s3n"):
            raise ValueError(f"not an S3 url: {url!r}")
        return parsed.netloc

    def register_bucket(self, bucket: str, creds: S3Credentials) -> None:
        """Write ``fs.s3a.bucket.<name>.*`` overrides (idempotent)."""
        if bucket in self._registered:
            return
        conf = self._spark.sparkContext._jsc.hadoopConfiguration()
        prefix = f"fs.s3a.bucket.{bucket}"
        conf.set(f"{prefix}.access.key", creds.access_key)
        conf.set(f"{prefix}.secret.key", creds.secret_key)
        if creds.session_token:
            conf.set(f"{prefix}.session.token", creds.session_token)
            conf.set(
                f"{prefix}.aws.credentials.provider",
                "org.apache.hadoop.fs.s3a.TemporaryAWSCredentialsProvider",
            )
        if creds.region:
            conf.set(f"{prefix}.endpoint.region", creds.region)
        if creds.endpoint:
            conf.set(f"{prefix}.endpoint", creds.endpoint)
        if creds.path_style:
            conf.set(f"{prefix}.path.style.access", "true")
        self._registered.add(bucket)

    def register_for_url(self, url: str, creds: S3Credentials) -> str:
        """Reference's ``get_store`` shape: resolve the bucket from a
        table location and register it lazily (demo.rs:186-195)."""
        bucket = self.bucket_of(url)
        self.register_bucket(bucket, creds)
        return bucket

    def get(self, key: str) -> Optional[str]:
        """Read back a Hadoop conf key (test hook)."""
        return self._spark.sparkContext._jsc.hadoopConfiguration().get(key)
