"""File-metadata store: md5 content identity, import conflict rules,
identifier queries, latest-by-identifier+language.

Semantics mirror the reference's file module
(``dlx/file/__init__.py:72-332``); storage is a
merge-on-read table keyed by ``_id`` (schemas.FILE) on the versioned
backend under ``<root>/_v`` instead of a Mongo collection — each import
is one O(batch) upsert committed by one manifest commit — and the content
upload target is a pluggable callable (the reference hardcodes S3 —
here any ``upload(payload: bytes, checksum: str, mimetype: str) -> bool``;
an S3 implementation would call boto3 from ``foreachPartition`` for
set-scale imports).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, functions as F

from dlx_spark import fsio, schemas
from dlx_spark.tableio_mor import MergeOnReadTable
from dlx_spark.tableio_versioned import VersionedTableBackend

# ISO 639-1 two-letter codes (public table); validation mirror of the
# reference's ISO6391 map (dlx/util.py:185-375)
ISO6391_CODES = {
    "aa", "ab", "ae", "af", "ak", "am", "an", "ar", "as", "av", "ay", "az",
    "ba", "be", "bg", "bh", "bi", "bm", "bn", "bo", "br", "bs", "ca", "ce",
    "ch", "co", "cr", "cs", "cu", "cv", "cy", "da", "de", "dv", "dz", "ee",
    "el", "en", "eo", "es", "et", "eu", "fa", "ff", "fi", "fj", "fo", "fr",
    "fy", "ga", "gd", "gl", "gn", "gu", "gv", "ha", "he", "hi", "ho", "hr",
    "ht", "hu", "hy", "hz", "ia", "id", "ie", "ig", "ii", "ik", "io", "is",
    "it", "iu", "ja", "jv", "ka", "kg", "ki", "kj", "kk", "kl", "km", "kn",
    "ko", "kr", "ks", "ku", "kv", "kw", "ky", "la", "lb", "lg", "li", "ln",
    "lo", "lt", "lu", "lv", "mg", "mh", "mi", "mk", "ml", "mn", "mr", "ms",
    "mt", "my", "na", "nb", "nd", "ne", "ng", "nl", "nn", "no", "nr", "nv",
    "ny", "oc", "oj", "om", "or", "os", "pa", "pi", "pl", "ps", "pt", "qu",
    "rm", "rn", "ro", "ru", "rw", "sa", "sc", "sd", "se", "sg", "si", "sk",
    "sl", "sm", "sn", "so", "sq", "sr", "ss", "st", "su", "sv", "sw", "ta",
    "te", "tg", "th", "ti", "tk", "tl", "tn", "to", "tr", "ts", "tt", "tw",
    "ty", "ug", "uk", "ur", "uz", "ve", "vi", "vo", "wa", "wo", "xh", "yi",
    "yo", "za", "zh", "zu",
}


class FileExists(Exception):
    pass


class FileExistsIdentifierConflict(FileExists):
    def __init__(self, checksum, identifiers, languages):
        super().__init__(f"file {checksum} exists with identifiers {identifiers}")
        self.existing_identifiers = identifiers
        self.existing_languages = languages


class FileExistsLanguageConflict(FileExists):
    def __init__(self, checksum, identifiers, languages):
        super().__init__(f"file {checksum} exists with languages {languages}")
        self.existing_identifiers = identifiers
        self.existing_languages = languages


@dataclass(frozen=True)
class Identifier:
    type: str
    value: str


def encode_fn(identifiers, languages, extension: str) -> str:
    """Filename encoding with the reference's char translation
    (' /[]*:;' → '__^^!#%', dlx/file/__init__.py:252-264)."""
    ids = [identifiers] if isinstance(identifiers, str) else identifiers
    langs = [languages] if isinstance(languages, str) else languages
    for lang in langs:
        assert lang.lower() in ISO6391_CODES
    table = str.maketrans(" /[]*:;", "__^^!#%")
    return "{}-{}.{}".format(
        "&".join(i.translate(table) for i in ids),
        "-".join(x.upper() for x in langs),
        extension,
    )


class FileStore:
    """Merge-on-read files table + pluggable content uploader."""

    def __init__(self, spark: SparkSession, root: str, uploader=None):
        self.spark = spark
        self.root = root
        self.uploader = uploader or (lambda payload, checksum, mimetype: True)
        fsio.mkdirs(spark, root)
        self._table = MergeOnReadTable(
            VersionedTableBackend(root=fsio.join(root, "_v")), "files",
            key="_id", partition_cols=[])

    def df(self) -> DataFrame:
        if not self._table.exists(self.spark):
            return self.spark.createDataFrame([], schema=schemas.FILE)
        return self._table.read(self.spark)

    # --- imports ---------------------------------------------------------------

    def import_from_binary(self, data: bytes, *, identifiers: list[Identifier],
                           languages: list[str], mimetype: str, source: str,
                           filename: str | None = None, overwrite: bool = False,
                           user: str | None = None,
                           now: datetime | None = None) -> dict:
        """md5-identity import with the reference's conflict rules
        (dlx/file/__init__.py:238-250): same checksum with unknown
        identifier → identifier conflict; different language set →
        language conflict; exact repeat → FileExists."""
        now = now or datetime.now(timezone.utc).replace(tzinfo=None)
        checksum = hashlib.md5(data).hexdigest()

        if not overwrite:
            self._check_file_exists(checksum, identifiers, languages)

        if not self.uploader(data, checksum, mimetype):
            return {}

        row = {
            "_id": checksum,
            "filename": filename,
            "identifiers": [{"type": i.type, "value": i.value} for i in identifiers],
            "languages": list(languages),
            "mimetype": mimetype,
            "size": len(data),
            "source": source,
            "timestamp": now,
            "updated": None,
            "uri": f"files.invalid/{checksum}",
            "user": user,
        }
        # the upsert supersedes an overwritten file's row by key
        self._table.upsert(self.spark.createDataFrame([row], schema=schemas.FILE))
        return row

    def import_batch(self, items: list[dict], overwrite: bool = False,
                     now: datetime | None = None) -> list[dict]:
        """Set-scale import: ONE upsert commit for N files (the per-file
        ``import_from_binary`` commits once per call).  Each item: {data:
        bytes, identifiers: [Identifier], languages, mimetype, source,
        filename?, user?}.  Conflict rules are applied per item against
        the pre-batch state + earlier items in the batch; conflicting
        items raise (atomic: nothing written)."""
        now = now or datetime.now(timezone.utc).replace(tzinfo=None)
        # validate the WHOLE batch before any upload so a mid-batch
        # conflict can't leave orphaned content objects
        seen: dict[str, bool] = {}
        checksums = []
        for item in items:
            checksum = hashlib.md5(item["data"]).hexdigest()
            if not overwrite:
                if checksum in seen:
                    raise FileExists()
                self._check_file_exists(checksum, item["identifiers"],
                                        list(item["languages"]))
            seen[checksum] = True
            checksums.append(checksum)

        rows = []
        for item, checksum in zip(items, checksums):
            data = item["data"]
            idents = item["identifiers"]
            langs = list(item["languages"])
            if not self.uploader(data, checksum, item["mimetype"]):
                continue
            rows.append({
                "_id": checksum,
                "filename": item.get("filename"),
                "identifiers": [{"type": i.type, "value": i.value} for i in idents],
                "languages": langs,
                "mimetype": item["mimetype"],
                "size": len(data),
                "source": item["source"],
                "timestamp": now,
                "updated": None,
                "uri": f"files.invalid/{checksum}",
                "user": item.get("user"),
            })
        if not rows:
            return []
        self._table.upsert(self.spark.createDataFrame(rows, schema=schemas.FILE))
        return rows

    def import_from_path(self, path: str, **kwargs) -> dict:
        with open(path, "rb") as fh:
            return self.import_from_binary(fh.read(), **kwargs)

    def import_from_url(self, url: str, **kwargs) -> dict:
        """Download-then-import (reference import_from_url,
        dlx/file/__init__.py:87-108) — stdlib urllib, 8 KiB chunks."""
        import io
        from urllib.request import urlopen
        buf = io.BytesIO()
        with urlopen(url) as resp:
            while chunk := resp.read(8192):
                buf.write(chunk)
        return self.import_from_binary(buf.getvalue(), **kwargs)

    def _check_file_exists(self, checksum: str, identifiers: list[Identifier],
                           languages: list[str]) -> None:
        rows = self.df().filter(F.col("_id") == checksum).collect()
        if not rows:
            return
        existing = rows[0]
        existing_ids = {(i["type"], i["value"]) for i in existing["identifiers"]}
        for idx in identifiers:
            if (idx.type, idx.value) not in existing_ids:
                raise FileExistsIdentifierConflict(checksum, sorted(existing_ids),
                                                   list(existing["languages"]))
        if sorted(languages) != sorted(existing["languages"]):
            raise FileExistsLanguageConflict(checksum, sorted(existing_ids),
                                             list(existing["languages"]))
        raise FileExists()

    # --- queries ---------------------------------------------------------------

    def from_id(self, checksum: str):
        rows = self.df().filter(F.col("_id") == checksum).collect()
        return rows[0] if rows else None

    def find_by_identifier(self, identifier: Identifier, language: str | None = None,
                           case_insensitive: bool = True) -> DataFrame:
        """Identifier elem-match, case-insensitive by default (strength-2
        collation emulation via lower()), newest first."""
        df = self.df()
        if case_insensitive:
            def match(i):
                return ((F.lower(i["type"]) == identifier.type.lower())
                        & (F.lower(i["value"]) == identifier.value.lower()))
        else:
            def match(i):
                return (i["type"] == identifier.type) & (i["value"] == identifier.value)
        out = df.filter(F.exists("identifiers", match))
        if language:
            out = out.filter(F.array_contains("languages", language))
        return out.orderBy(F.desc("timestamp"))

    def latest_by_identifier_language(self, identifier: Identifier, language: str):
        rows = self.find_by_identifier(identifier, language).limit(1).collect()
        return rows[0] if rows else None

    def latest_per_identifier_language(self) -> DataFrame:
        """Set-scale variant: latest file per (identifier, language) —
        the reference's top-1 query as a single window job."""
        from pyspark.sql import Window
        exploded = (self.df()
                    .select("*", F.explode("identifiers").alias("ident"))
                    .select("*", F.explode("languages").alias("lang")))
        w = Window.partitionBy("ident.type", "ident.value", "lang").orderBy(
            F.desc("timestamp"), F.desc("_id"))
        return (exploded.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select(F.col("ident.type").alias("identifier_type"),
                        F.col("ident.value").alias("identifier_value"),
                        F.col("lang").alias("language"),
                        "_id", "uri", "timestamp"))

    def bib_files(self, bibs: DataFrame, language: str | None = None) -> DataFrame:
        """File URIs per bib symbol (reference Bib.files/file,
        dlx/marc/__init__.py:1817-1830): join bib 191$a symbols against
        file identifiers of type 'symbol', newest file first per key."""
        symbols = bibs.select(
            F.col("_id").alias("bib_id"),
            F.explode(F.expr("""
                flatten(transform(filter(datafields, f -> f.tag = '191'),
                    f -> transform(filter(f.subfields, s -> s.code = 'a'
                                          and s.value is not null),
                                   s -> s.value)))
            """)).alias("symbol"),
        )
        files = (self.df()
                 .select("*", F.explode("identifiers").alias("ident"),
                         F.explode("languages").alias("lang"))
                 .filter(F.lower(F.col("ident.type")) == "symbol"))
        if language:
            files = files.filter(F.col("lang") == language)
        joined = symbols.join(
            files, F.lower(symbols["symbol"]) == F.lower(files["ident.value"]))
        from pyspark.sql import Window
        w = Window.partitionBy("bib_id", "symbol", "lang").orderBy(
            F.desc("timestamp"), F.desc("_id"))
        return (joined.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("bib_id", "symbol", F.col("lang").alias("language"),
                        "uri", "timestamp"))

    def find_by_date(self, date_from: datetime, date_to: datetime | None = None) -> DataFrame:
        date_to = date_to or datetime.now(timezone.utc).replace(tzinfo=None)
        ts = (F.col("timestamp") >= date_from) & (F.col("timestamp") < date_to)
        up = (F.col("updated") >= date_from) & (F.col("updated") < date_to)
        return self.df().filter(ts | up)
