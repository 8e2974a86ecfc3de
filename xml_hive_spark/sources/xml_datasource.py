"""``xmlhive`` Python DataSource (Spark 4 DataSource API).

Spark-idiomatic equivalent of the reference's Hadoop integration pair
(``AvroFromXmlInputFormat.scala`` split planning + ``AvroFromXmlSerde.scala``
catalog shim): ``partitions()`` plays the role of ``FileInputFormat``
split planning (but split-SAFE, unlike the reference —
AvroFromXmlInputFormat.scala:49 opens every split at byte 0), and
``read(partition)`` is the per-task ``RecordReader``
(AvroFromXmlInputFormat.scala:62-76), yielding rows the engine moves to
the JVM in Arrow batches instead of per-record Writables.

Usage::

    spark.dataSource.register(XmlHiveDataSource)
    df = (spark.read.format("xmlhive")
          .schema(struct)                       # or pass xsd= options
          .option("rowTag", "book")
          .option("paths", "/data/a.xml\\n/data/b.xml")
          .load())

Options (mirroring the reference's four ``xml.*`` table properties,
AvroFromXmlSerde.scala:21-23):

- ``rowTag``           — separator tag (``xml.separator.tag``)
- ``xsd``              — XSD file/dir (``xml.schema.location``)
- ``sepTagType``       — row type name (``xml.separator.tag.type``)
- ``sepTagTypeNs``     — row type namespace (``xml.separator.tag.type.ns``)
- ``paths`` / ``path`` — newline-separated files, a dir, or a glob
- ``partitionBytes``   — target bytes per input partition
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

from xml_hive_spark.flat import FlatAssembler
from xml_hive_spark.reader import (
    DEFAULT_PARTITION_BYTES,
    _read_split,
    plan_annotated_splits,
    resolve_paths,
)


@dataclass
class XmlInputPartition(InputPartition):
    path: str
    start: int
    end: int
    # incoming lexer state + row-tag depth from the two-phase split
    # reconciliation (reader.py phase A/B); (TEXT, 0) at a record boundary
    state: str = "TEXT"
    depth: int = 0


def _opt(options, *names, default=None):
    for n in names:
        for key in (n, n.lower()):
            if key in options:
                return options[key]
    return default


class XmlHiveDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "xmlhive"

    def schema(self) -> StructType:
        # only consulted when the user didn't pass .schema(...) —
        # the reference's DDL-side schema determination
        # (AvroFromXmlSerde.scala:15-17 → XmlAvroHelper.schema)
        from xml_hive_spark.xsd import xsd_to_struct

        xsd = _opt(self.options, "xsd")
        sep_type = _opt(self.options, "sepTagType", "septagtype")
        if bool(xsd) != bool(sep_type):
            # exactly one of the pair: a typo'd option must not silently
            # swap the user's XSD for head-of-file sampled inference
            raise ValueError(
                "xmlhive: xsd= and sepTagType= must be passed together "
                f"(got {'xsd' if xsd else 'sepTagType'} alone)"
            )
        if not xsd:
            # no XSD: sampled inference (infer.py), like JSON/CSV
            # inferSchema — the reference mandates an XSD here
            row_tag = _opt(self.options, "rowTag", "rowtag")
            raw_paths = _opt(self.options, "paths") or _opt(self.options, "path")
            if row_tag and raw_paths:
                from xml_hive_spark.infer import infer_xml_schema

                paths = (
                    raw_paths.split("\n")
                    if "\n" in raw_paths
                    else resolve_paths(raw_paths)
                )
                return infer_xml_schema(paths, row_tag)
            raise ValueError(
                "xmlhive: pass .schema(...), options xsd= and sepTagType=, "
                "or rowTag= and path= for sampled inference"
            )
        return xsd_to_struct(
            xsd,
            sep_type,
            _opt(self.options, "sepTagTypeNs", "septagtypens"),
            rich_types=str(_opt(self.options, "richTypes", default="false")).lower()
            == "true",
        )

    def reader(self, schema: StructType) -> "XmlHiveReader":
        return XmlHiveReader(schema, self.options)


class XmlHiveReader(DataSourceReader):
    def __init__(self, schema: StructType, options):
        self._schema = schema
        self._pushed = []  # compiled tri-valued predicates (pushdown.py)
        self._pushed_raw = []  # the accepted Filter objects themselves
        self._row_tag = _opt(options, "rowTag", "rowtag")
        if not self._row_tag:
            raise ValueError("xmlhive: rowTag option is required")
        # pre-annotated splits from read_xml (phase A ran as a Spark job)
        raw_splits = _opt(options, "splits")
        self._splits = json.loads(raw_splits) if raw_splits else None
        if self._splits is None:
            raw_paths = _opt(options, "paths") or _opt(options, "path")
            if not raw_paths:
                raise ValueError("xmlhive: no input path given")
            self._paths = (
                raw_paths.split("\n") if "\n" in raw_paths else resolve_paths(raw_paths)
            )
        self._partition_bytes = int(
            _opt(options, "partitionBytes", "partitionbytes", default=DEFAULT_PARTITION_BYTES)
        )
        self._mode = str(_opt(options, "mode", default="FAILFAST")).upper()
        if self._mode not in ("FAILFAST", "DROPMALFORMED", "PERMISSIVE"):
            raise ValueError(f"xmlhive: invalid mode {self._mode!r}")
        corrupt = _opt(options, "columnNameOfCorruptRecord",
                       "columnnameofcorruptrecord")
        if corrupt:
            # bare-DataSource path: the scan schema is fixed by Spark, so
            # the sink column must already be declared — tag it (read_xml
            # appends it before the schema reaches the source)
            from xml_hive_spark.reader import tag_corrupt_field

            if corrupt not in self._schema.fieldNames():
                raise ValueError(
                    f"xmlhive: columnNameOfCorruptRecord={corrupt!r} is not "
                    "in the declared schema — add it as a nullable STRING "
                    "field (the scan cannot widen a fixed schema)"
                )
            self._schema = tag_corrupt_field(self._schema, corrupt)

    def pushFilters(self, filters):
        """Spark 4.1 filter pushdown: accept predicates we can evaluate
        with exact SQL semantics on top-level scalar fields (the
        reference filters only after full deserialization in Hive —
        SURVEY.md §4.1); everything else goes back to Spark. Accepted
        filters run executor-side BEFORE rows enter an Arrow batch, so
        filtered records never cross the Python→JVM boundary."""
        from xml_hive_spark.sources.pushdown import compile_filter

        unsupported = []
        for f in filters:
            pred = compile_filter(f, self._schema)
            if pred is None:
                unsupported.append(f)
            else:
                self._pushed.append(pred)
                self._pushed_raw.append(f)
        return unsupported

    def partitions(self):
        if self._splits is not None:
            splits = self._splits
        else:
            # bare .format("xmlhive") use: phase A runs driver-side (the
            # scale path is read_xml, which distributes it as a Spark job)
            splits = plan_annotated_splits(
                self._paths, self._row_tag, self._partition_bytes
            )
        parts = [XmlInputPartition(*s) for s in splits]
        # Spark requires at least one partition (all-empty inputs would
        # otherwise surface as read(None) on the executor)
        return parts or [XmlInputPartition("", 0, 0)]

    def read(self, partition: XmlInputPartition):
        if partition is None or partition.end <= partition.start:
            return
        from xml_hive_spark.sources.pushdown import (
            compile_conjunction,
            compile_conjunction_arrow,
        )

        keep = compile_conjunction(self._pushed)
        arrow_keep = (
            compile_conjunction_arrow(self._pushed_raw, self._schema)
            if keep is not None else None
        )
        yield from scan_split(
            (partition.path, partition.start, partition.end,
             partition.state, partition.depth),
            self._row_tag, self._schema, self._mode,
            keep=keep, arrow_keep=arrow_keep,
        )


def scan_split(split: tuple, row_tag: str, schema: StructType, mode: str,
               keep=None, arrow_keep=None, raw_limit: int | None = None):
    """Records of one annotated split — the per-task record reader of
    both the batch and the streaming source. Flat scalar schemas take
    the fused scan and yield Arrow RecordBatches the DataSource worker
    ships as-is; other schemas yield ElementTree-assembled tuples (the
    worker converts per value). ``keep`` is the tri-valued pushed-filter
    conjunction, ``arrow_keep`` its Arrow twin when every filter has one
    (pushdown.py); ``raw_limit`` caps the compressed bytes read."""
    asm = FlatAssembler.try_create(schema, mode)
    if asm is not None:
        yield from asm.fused_split_batches(
            split, row_tag, predicate=keep, arrow_predicate=arrow_keep,
            raw_limit=raw_limit,
        )
        return
    rows = _read_split(split, row_tag, schema, mode, raw_limit=raw_limit)
    yield from (rows if keep is None else filter(keep, rows))


_REGISTERED_SESSIONS: set[int] = set()
_PKG_ZIP: str | None = None


def ship_package(spark) -> None:
    """Make ``xml_hive_spark`` importable in Python workers regardless of
    the driver process's cwd/sys.path: the DataSource class is pickled by
    reference, so the data-source worker must be able to import the
    package. ``addPyFile`` puts the zipped package on every worker's
    path (idempotent per session)."""
    global _PKG_ZIP
    import tempfile
    import zipfile
    from pathlib import Path

    if _PKG_ZIP is None:
        pkg_root = Path(__file__).resolve().parent.parent
        zpath = Path(tempfile.gettempdir()) / "xml_hive_spark_pkg.zip"
        with zipfile.ZipFile(zpath, "w") as z:
            for p in sorted(pkg_root.rglob("*.py")):
                z.write(p, "xml_hive_spark/" + str(p.relative_to(pkg_root)))
        _PKG_ZIP = str(zpath)
    try:
        spark.sparkContext.addPyFile(_PKG_ZIP)
    except Exception:
        pass  # already added in this session


def register(spark) -> None:
    key = id(spark)
    if key not in _REGISTERED_SESSIONS:
        ship_package(spark)
        # a reader that implements pushFilters() is rejected outright when
        # the conf is off, so any session reading this source needs it on
        # (get_spark sets it too; this covers externally-built sessions).
        # The conf is session-global (affects every Python DataSource), so
        # respect an explicit user opt-out instead of silently overriding.
        conf_key = "spark.sql.python.filterPushdown.enabled"
        current = spark.conf.get(conf_key, None)
        if current is None or str(current).lower() == "true":
            spark.conf.set(conf_key, "true")
        else:
            import warnings

            warnings.warn(
                f"xmlhive: {conf_key} is explicitly false; respecting it. "
                "Spark rejects readers that implement pushFilters() while "
                "the conf is off, so xmlhive reads will fail until it is "
                "re-enabled",
                stacklevel=2,
            )
        spark.dataSource.register(XmlHiveDataSource)
        _REGISTERED_SESSIONS.add(key)
