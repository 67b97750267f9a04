"""The benchmark workloads.

Each workload generates its inputs (``generate``, before the session
starts), registers its UDFs (``register``, part of every set-up), warms up
(``warm``, untimed), runs timed operations (``op``) and checks its outputs
(``check``, untimed). An operation returns ``(latency_s, rows)`` samples:
one per pipeline run, mask pass or query, or one per micro-batch.

Spans wrap the calls into each layer's public functions; ``layers``
turns them into the per-layer metrics of a traced run.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import random
import sys
import time
from decimal import Decimal

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from arc_maskdata_pipeline_plugin_spark.cache import release_persisted
from arc_maskdata_pipeline_plugin_spark.codecs.hmac_sha512 import HmacSHA512
from arc_maskdata_pipeline_plugin_spark.codecs.pbkdf2 import PBKDF2WithHmacSHA512
from arc_maskdata_pipeline_plugin_spark.functions.masking import (
    DEFAULT_ALPHABET,
    mask_date_value,
    mask_decimal_value,
    mask_string_value,
    mask_timestamp_value,
    register_udfs,
)
from arc_maskdata_pipeline_plugin_spark.operators.base import PipelineContext
from arc_maskdata_pipeline_plugin_spark.operators.mask import (
    MaskDataTransform,
    compile_mask_expressions,
)
from arc_maskdata_pipeline_plugin_spark.plans._pbkdf2_vectors import VECTORS
from arc_maskdata_pipeline_plugin_spark.plans.pipeline import Pipeline
from arc_maskdata_pipeline_plugin_spark.schema import parse_schema
from arc_maskdata_pipeline_plugin_spark.streaming.events import (
    read_events_stream,
    stream_masked_to_parquet,
)

from . import checks, gen
from .trace import (
    CodecCounters,
    CountingHmacSHA512,
    CountingPBKDF2,
    ProgressLog,
    STREAM_DURATIONS,
    exchange_count,
    last_execution_id,
    median,
    python_bytes_since,
    scanned_rows_since,
)

# 64-char passphrase: the engine requires 64-256 characters.
PASSPHRASE = b"perfbench-passphrase-0123456789-abcdefghijklmnopqrstuvwxyz-ABCDE"
# Passphrase and iteration count of the JVM-generated PBKDF2 vectors.
VECTOR_PASSPHRASE = b"engine-test-passphrase-0123456789abcdefghijklmnopqrstuvwxyz-0123"
VECTOR_ITERATIONS = 1000


class Run:
    """State of one benchmark run, passed to every workload method."""

    def __init__(self, spark_factory, nproc, work, seed, tracer):
        self.spark_factory = spark_factory
        self.spark = None
        self.nproc = nproc
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.counters: CodecCounters | None = None
        self.progress = ProgressLog()
        self.layer_samples: dict[str, list[float]] = {}

    def sample(self, name: str, value: float) -> None:
        self.layer_samples.setdefault(name, []).append(value)

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _value_us(fn, values) -> float:
    """Microseconds per call of ``fn`` over ``values`` (in-process)."""
    t0 = time.perf_counter()
    for v in values:
        fn(v)
    return (time.perf_counter() - t0) * 1e6 / max(len(values), 1)


def pbkdf2_codec() -> PBKDF2WithHmacSHA512:
    """PBKDF2 at the iteration count of the JVM vectors."""
    codec = PBKDF2WithHmacSHA512()
    codec.iteration_count = VECTOR_ITERATIONS
    return codec


def vector_errors(spark) -> list[str]:
    """All six ``pbkdf2_*`` functions over the 21 JVM-vector inputs, compared
    for exact equality with the vectors."""
    vec = spark.createDataFrame([(v[0],) for v in VECTORS], "c_custkey long")
    vec = vec.selectExpr("c_custkey", "format_string('Customer#%09d', c_custkey) AS c_name")
    vec.createOrReplaceTempView("kdf_vectors")
    got = spark.sql(
        """
        SELECT c_custkey,
          pbkdf2_mask_string(16, true, c_name),
          pbkdf2_mask_string_alphabet(12, '0123456789', true, c_name),
          pbkdf2_mask_string_alphabet_format(16, '0123456789', 'xxx-xxxx-xxxx', true, c_name),
          CAST(pbkdf2_mask_date(365, true, date_add(DATE'1995-01-01', CAST(c_custkey AS INT))) AS STRING),
          date_format(pbkdf2_mask_timestamp(30, true,
              CAST(date_add(DATE'1995-01-01', CAST(c_custkey AS INT)) AS TIMESTAMP)),
            'yyyy-MM-dd HH:mm:ss'),
          CAST(CAST(pbkdf2_mask_decimal(CAST(100.0 AS DECIMAL(5,1)), true,
              CAST(c_custkey + 0.25 AS DECIMAL(12,2))) AS DECIMAL(12,2)) AS STRING)
        FROM kdf_vectors
        """
    ).collect()
    return checks.check_vectors([tuple(r) for r in got], VECTORS)


def codec_hash_us(values: list[str]) -> dict[str, float]:
    """In-process cost per hash of each masking codec over ``values``
    (HmacSHA512 with its key already stretched)."""
    hmac = HmacSHA512()
    hmac.hash("warm", True, PASSPHRASE)
    pbkdf2 = pbkdf2_codec()
    return {
        "codecs.hash_us.HmacSHA512": _value_us(
            lambda v: hmac.hash(v, True, PASSPHRASE), values
        ),
        "codecs.hash_us.PBKDF2WithHmacSHA512": _value_us(
            lambda v: pbkdf2.hash(v, True, PASSPHRASE), values[:100]
        ),
    }


class Workload:
    name = "?"
    unit = "?"

    def generate(self, run: Run) -> dict:
        raise NotImplementedError

    def register(self, run: Run, spark) -> None:
        """The default ``HmacSHA512`` family and the ``pbkdf2_`` family at
        the JVM vectors' passphrase and cost."""
        register_udfs(spark, codec=HmacSHA512(), passphrase=PASSPHRASE)
        register_udfs(spark, codec=pbkdf2_codec(), passphrase=VECTOR_PASSPHRASE, prefix="pbkdf2_")

    def register_counting(self, run: Run) -> None:
        """Re-register the workload's UDFs with counting codecs."""
        register_udfs(run.spark, codec=CountingHmacSHA512(run.counters), passphrase=PASSPHRASE)
        register_udfs(
            run.spark,
            codec=CountingPBKDF2(run.counters, VECTOR_ITERATIONS),
            passphrase=VECTOR_PASSPHRASE,
            prefix="pbkdf2_",
        )

    def warm(self, run: Run) -> list[str]:
        """Untimed warm-up; returns correctness errors found on the way."""
        self.op(run)
        return []

    def op(self, run: Run) -> list[tuple[float, int]]:
        raise NotImplementedError

    def check(self, run: Run) -> list[str]:
        raise NotImplementedError

    def layers(self, run: Run) -> dict[str, float]:
        return {}


# --------------------------------------------------------------------------


class EtlMaskPipeline(Workload):
    """HOCON pipeline: DelimitedExtract -> TypingTransform -> MaskDataTransform
    -> ParquetLoad over near-unique customer PII (HmacSHA512 codec) plus a
    Zipf-skewed account key masked with the PBKDF2 codec (``pbkdf2_``)."""

    name = "etl_mask_pipeline"
    unit = "pipeline run"
    CHUNKS = 3
    ROWS = 12_000
    WARM_ROWS = 2_000
    SAMPLE = 200
    STAGES = {
        "DelimitedExtract": "extract",
        "TypingTransform": "typing",
        "MaskDataTransform": "mask",
        "ParquetLoad": "load",
    }

    def __init__(self):
        self.n_ops = 0

    def schema(self) -> list[dict]:
        def mask(*treatments):
            return {"pii": True, "mask": {"treatments": list(treatments)}}

        return [
            {"name": "customer_id", "type": "long"},
            {"name": "account_ref", "type": "string",
             "metadata": mask("pbkdf2_mask_string(16, true, ${value})")},
            {"name": "full_name", "type": "string", "trim": True,
             "metadata": mask("mask_string(16, true, ${value})")},
            {"name": "email", "type": "string",
             "metadata": mask(f"mask_string_alphabet(12, '{checks.EMAIL_ALPHABET}', true, ${{value}})")},
            {"name": "phone", "type": "string",
             "metadata": mask(
                 f"mask_string_alphabet_format(16, '{checks.DIGITS}', '{checks.PHONE_FORMAT}', true, ${{value}})")},
            {"name": "birth_date", "type": "date", "formatters": ["yyyy-MM-dd"],
             "nullableValues": [""],
             "metadata": mask(f"mask_date({checks.DATE_RANGE}, true, ${{value}})")},
            {"name": "signup_ts", "type": "timestamp", "formatters": ["yyyy-MM-dd HH:mm:ss"],
             "timezoneId": "UTC",
             "metadata": mask("date_trunc('HOUR', ${value})",
                              f"mask_timestamp({checks.TS_RANGE}, true, ${{value}})")},
            {"name": "balance", "type": "decimal", "precision": 12, "scale": 2,
             "nullableValues": ["", "NULL"],
             "metadata": mask("mask_decimal(CAST(100.0 AS DECIMAL(5,1)), true, ${value})")},
            {"name": "segment", "type": "string"},
        ]

    def generate(self, run):
        self.work = run.work
        self.schema_path = run.path("customers.schema.json")
        with open(self.schema_path, "w", encoding="utf-8") as fh:
            json.dump(self.schema(), fh)
        sizes = gen.write_etl_chunks(
            run.path("etl_in"), run.seed, self.CHUNKS, self.ROWS, run.nproc
        )
        # the warm-up reads its own smaller chunk, never a timed op's input
        gen.write_etl_chunks(
            run.path("etl_warm_in"), run.seed, 1, self.WARM_ROWS, run.nproc, first=self.CHUNKS
        )
        return {**sizes, "rows_per_op": self.ROWS}

    def config(self, src: str, out: str) -> str:
        return f"""
        {{
          stages: [
            {{
              type: DelimitedExtract
              name: "extract customers"
              environments: [production]
              inputURI: "{src}"
              outputView: customers_raw
              header: true
            }}
            {{
              type: TypingTransform
              name: "type customers"
              environments: [production]
              inputView: customers_raw
              outputView: customers_typed
              schema: "{self.schema_path}"
            }}
            {{
              type: MaskDataTransform
              name: "mask customer PII"
              environments: [production]
              inputView: customers_typed
              outputView: customers_masked
            }}
            {{
              type: ParquetLoad
              name: "load masked customers"
              environments: [production]
              inputView: customers_masked
              outputURI: "{out}"
            }}
          ]
        }}
        """

    def chunk_dir(self, chunk: int) -> str:
        return os.path.join(self.work, "etl_in", f"chunk={chunk:03d}")

    def warm(self, run):
        src = run.path("etl_warm_in", f"chunk={self.CHUNKS:03d}")
        self._run_pipeline(run, src, run.path("etl_warm_out"))
        return []

    def _run_pipeline(self, run, src, out):
        tr = run.tracer
        t0 = time.perf_counter()
        with tr.span("plans.pipeline.from_config"):
            pipe = Pipeline.from_config(self.config(src, out))
        ctx = PipelineContext(run.spark)
        if tr.enabled:
            for stage in pipe.stages:
                with tr.span("operators." + self.STAGES[stage.stage_type]):
                    stage.execute(ctx)
        else:
            pipe.run(ctx)
        return time.perf_counter() - t0

    def op(self, run):
        chunk = self.n_ops % self.CHUNKS
        out = run.path("etl_out", f"op={self.n_ops:04d}")
        self.n_ops += 1
        tr = run.tracer
        if tr.enabled:
            exec_id = last_execution_id(run.spark)
            before = run.counters.snapshot()
        latency = self._run_pipeline(run, self.chunk_dir(chunk), out)
        if tr.enabled:
            self._trace_op(run, chunk, out, exec_id, before)
        release_persisted()
        return [(latency, self.ROWS)]

    def _trace_op(self, run, chunk, out, exec_id, before):
        """Per-layer numbers for one traced op, measured after it."""
        spark, tr = run.spark, run.tracer
        after = run.counters.snapshot()
        sent = python_bytes_since(spark, exec_id)
        run.sample("functions.masking.python_bytes_per_row", sent / self.ROWS)
        # KDF calls: the PBKDF2 codec on the skewed account_ref column
        calls = after["kdf_calls"] - before["kdf_calls"]
        run.sample("codecs.kdf_calls", calls)
        keys = spark.sql("SELECT count(DISTINCT account_ref) FROM customers_raw").first()[0]
        run.sample("codecs.kdf_useful_ratio", keys / max(calls, 1))
        tasks = after["tasks"] - before["tasks"]
        run.sample("codecs.instances_per_task",
                   (after["instances"] - before["instances"]) / max(tasks, 1))
        run.sample("codecs.key_stretch_s", after["stretch_s"] - before["stretch_s"])
        with tr.span("schema.parse_schema"):
            parse_schema(self.schema_path)
        typed_schema = spark.table("customers_typed").schema
        with tr.span("operators.mask.compile"):
            compile_mask_expressions(typed_schema, "customers_typed")
        prefix = []
        for view in ("customers_raw", "customers_typed", "customers_masked"):
            t0 = time.perf_counter()
            _noop(spark.table(view))
            prefix.append(time.perf_counter() - t0)
        load = tr.durations("operators.load")[-1]
        run.sample("operators.extract.self_s", prefix[0])
        run.sample("operators.typing.self_s", prefix[1] - prefix[0])
        run.sample("operators.mask.self_s", prefix[2] - prefix[1])
        run.sample("operators.load.self_s", load - prefix[2])
        run.sample(
            "operators.load.bytes_out_per_byte_in",
            gen.dir_bytes(out) / gen.dir_bytes(self.chunk_dir(chunk)),
        )

    def check(self, run):
        spark = run.spark
        out = spark.read.parquet(run.path("etl_out"))
        out.createOrReplaceTempView("etl_out")
        rows, bad = spark.sql(
            f"""SELECT count(*), count_if(
              length(account_ref) != 16 OR account_ref RLIKE '[^a-zA-Z]'
              OR length(full_name) != 16 OR full_name RLIKE '[^a-zA-Z]'
              OR length(email) != 12 OR email RLIKE '[^a-z0-9]'
              OR NOT phone RLIKE '^[0-9]{{3}}-[0-9]{{4}}-[0-9]{{4}}$'
              OR signup_ts != date_trunc('HOUR', signup_ts)) FROM etl_out"""
        ).first()
        errs = checks.check_count("etl output", self.ROWS * self.n_ops, rows)
        if bad:
            errs.append(f"etl output: {bad} rows break the masked-format invariants")
        raw = gen.etl_rows(run.seed, 0, self.ROWS)
        first = spark.read.parquet(run.path("etl_out", "op=0000"))
        sample = random.Random(run.seed).sample(raw, self.SAMPLE)
        got = {
            row["customer_id"]: row.asDict()
            for row in first.where(F.col("customer_id").isin([int(r[0]) for r in sample]))
            .collect()
        }
        errs += checks.check_etl_sample(
            HmacSHA512(), PASSPHRASE, pbkdf2_codec(), VECTOR_PASSPHRASE, sample, got
        )
        masked_ref = dict(first.select("customer_id", "account_ref").collect())
        seen: dict[str, set[str]] = {}
        for r in raw:
            if int(r[0]) in masked_ref:
                seen.setdefault(r[1], set()).add(masked_ref[int(r[0])])
        errs += checks.check_skewed_keys(seen, VECTORS)
        return errs

    def layers(self, run):
        raw = gen.etl_rows(run.seed, 0, self.ROWS)[:200]
        codec = HmacSHA512()
        codec.hash("warm", True, PASSPHRASE)
        names = [r[2].strip() for r in raw]
        out = {
            "functions.masking.value_us.mask_string": _value_us(
                lambda v: mask_string_value(codec, PASSPHRASE, 16, DEFAULT_ALPHABET, None, True, v),
                names),
            "functions.masking.value_us.mask_string_alphabet": _value_us(
                lambda v: mask_string_value(codec, PASSPHRASE, 12, checks.EMAIL_ALPHABET, None, True, v),
                [r[3] for r in raw]),
            "functions.masking.value_us.mask_string_alphabet_format": _value_us(
                lambda v: mask_string_value(
                    codec, PASSPHRASE, 16, checks.DIGITS, checks.PHONE_FORMAT, True, v),
                [r[4] for r in raw]),
            "functions.masking.value_us.mask_date": _value_us(
                lambda v: mask_date_value(codec, PASSPHRASE, checks.DATE_RANGE, True, v),
                [dt.date.fromisoformat(r[5]) for r in raw if r[5]]),
            "functions.masking.value_us.mask_timestamp": _value_us(
                lambda v: mask_timestamp_value(codec, PASSPHRASE, checks.TS_RANGE, True, v),
                [pd.Timestamp(r[6]).floor("h") for r in raw]),
            "functions.masking.value_us.mask_decimal": _value_us(
                lambda v: mask_decimal_value(codec, PASSPHRASE, checks.DECIMAL_RANGE, True, v),
                [Decimal(r[7]) for r in raw if r[7] != "NULL"]),
            "plans.pipeline.from_config_ms": 1e3 * median(run.tracer.durations("plans.pipeline.from_config")),
            "schema.parse_schema_ms": 1e3 * median(run.tracer.durations("schema.parse_schema")),
            "operators.mask.compile_ms": 1e3 * median(run.tracer.durations("operators.mask.compile")),
        }
        out.update(codec_hash_us([r[1] for r in raw]))
        return out


# --------------------------------------------------------------------------


class KdfSkewedKeys(Workload):
    """MaskDataTransform over a Zipf-skewed key column with the PBKDF2 codec
    at the JVM vectors' cost, registered under the ``pbkdf2_`` prefix."""

    name = "kdf_skewed_keys"
    unit = "mask pass"
    ROWS = 40_000
    DISTINCT = 1_000
    TREATMENT = "pbkdf2_mask_string(16, true, ${value})"

    def generate(self, run):
        sizes = gen.write_kdf_keys(run.path("kdf_in"), run.seed, self.ROWS, self.DISTINCT, run.nproc)
        self.distinct = sizes["distinct_keys"]
        return sizes

    def _masked(self, run):
        spark = run.spark
        df = spark.read.parquet(run.path("kdf_in")).select(
            "row_id",
            F.col("k").alias("k_masked", metadata={"mask": {"treatments": [self.TREATMENT]}}),
            "k",
        )
        df.createOrReplaceTempView("kdf_in")
        with run.tracer.span("operators.mask"):
            return MaskDataTransform("mask keys", "kdf_in", "kdf_out").execute(
                PipelineContext(spark)
            )

    def op(self, run):
        tr = run.tracer
        if tr.enabled:
            exec_id = last_execution_id(run.spark)
            before = run.counters.snapshot()
        t0 = time.perf_counter()
        _noop(self._masked(run))
        latency = time.perf_counter() - t0
        if tr.enabled:
            after = run.counters.snapshot()
            sent = python_bytes_since(run.spark, exec_id)
            run.sample("functions.masking.python_bytes_per_row", sent / self.ROWS)
            calls = after["kdf_calls"] - before["kdf_calls"]
            run.sample("codecs.kdf_calls", calls)
            run.sample("codecs.kdf_useful_ratio", self.distinct / max(calls, 1))
            tasks = after["tasks"] - before["tasks"]
            run.sample("codecs.instances_per_task",
                       (after["instances"] - before["instances"]) / max(tasks, 1))
            run.sample("operators.mask.self_s", latency)
            with tr.span("operators.mask.compile"):
                compile_mask_expressions(run.spark.table("kdf_in").schema, "kdf_in")
        release_persisted()
        return [(latency, self.ROWS)]

    def check(self, run):
        spark = run.spark
        rows = self._masked(run).select("k", "k_masked").collect()
        errs = checks.check_count("kdf output", self.ROWS, len(rows))
        seen: dict[str, set[str]] = {}
        for k, m in rows:
            seen.setdefault(k, set()).add(m)
        errs += checks.check_skewed_keys(seen, VECTORS)
        errs += vector_errors(spark)
        return errs

    def layers(self, run):
        keys = sorted({gen.vector_key(k) for k in range(200)})
        codec = pbkdf2_codec()
        out = {
            "functions.masking.value_us.mask_string": _value_us(
                lambda v: mask_string_value(
                    codec, VECTOR_PASSPHRASE, 16, DEFAULT_ALPHABET, None, True, v),
                keys[:100]),
            "operators.mask.compile_ms": 1e3 * median(run.tracer.durations("operators.mask.compile")),
        }
        out.update(codec_hash_us(keys))
        return out


# --------------------------------------------------------------------------


class StreamMaskMicrobatch(Workload):
    """read_events_stream -> stream_masked_to_parquet (foreachBatch,
    availableNow), one small events file per trigger."""

    name = "stream_mask_microbatch"
    unit = "micro-batch"
    GROUPS = 8
    FILES = 6
    WARM_FILES = 2
    ROWS = 2_500
    USERS = 2_000

    def __init__(self):
        self.n_ops = 0

    def generate(self, run):
        sizes = {"rows": 0, "bytes": 0, "files": 0, "distinct_keys": 0}
        # group GROUPS is the warm-up's (shorter) input; groups 0.. feed the timed ops
        for g in range(self.GROUPS + 1):
            files = self.WARM_FILES if g == self.GROUPS else self.FILES
            s = gen.write_event_files(
                self.group_dir(run, g), run.seed, g * self.FILES, files, self.ROWS, self.USERS
            )
            for k in ("rows", "bytes", "files"):
                sizes[k] += s[k]
            sizes["distinct_keys"] = max(sizes["distinct_keys"], s["distinct_keys"])
        sizes["rows_per_batch"] = self.ROWS
        return sizes

    def group_dir(self, run, g):
        return run.path("stream_in", f"g{g:02d}", "events.parquet")

    def _drain(self, run, g: int, tag: str) -> tuple[float, list[dict]]:
        seen = run.progress.count()
        stream = read_events_stream(run.spark, os.path.dirname(self.group_dir(run, g)))
        t0 = time.perf_counter()
        with run.tracer.span("streaming.stream_masked_to_parquet"):
            stream_masked_to_parquet(
                stream, run.path("stream_out", f"{tag}{g:02d}"), run.path("stream_ckpt", f"{tag}{g:02d}")
            )
        wall = time.perf_counter() - t0
        return wall, run.progress.wait_since(seen, len(self.files(run, g)))

    def files(self, run, g):
        return sorted(glob.glob(os.path.join(self.group_dir(run, g), "*.parquet")))

    def warm(self, run):
        run.progress.attach(run.spark)
        self._drain(run, self.GROUPS, "warm")
        return []

    def op(self, run):
        if self.n_ops >= self.GROUPS:
            raise RuntimeError("stream workload ran out of generated input groups")
        g = self.n_ops
        self.n_ops += 1
        tr = run.tracer
        if tr.enabled:
            exec_id = last_execution_id(run.spark)
            before = run.counters.snapshot()
        _, batches = self._drain(run, g, "g")
        if tr.enabled:
            after = run.counters.snapshot()
            rows = sum(b["rows"] for b in batches)
            sent = python_bytes_since(run.spark, exec_id)
            run.sample("functions.masking.python_bytes_per_row", sent / max(rows, 1))
            # the pseudonym column's codec is HmacSHA512
            calls = after["hmac_calls"] - before["hmac_calls"]
            run.sample("codecs.kdf_calls", calls / max(len(batches), 1))
            tasks = after["tasks"] - before["tasks"]
            run.sample("codecs.instances_per_task",
                       (after["instances"] - before["instances"]) / max(tasks, 1))
            run.sample("codecs.key_stretch_s",
                       (after["stretch_s"] - before["stretch_s"]) / max(len(batches), 1))
            distinct = len(
                {
                    u
                    for f in self.files(run, g)
                    for u in pq.read_table(f, columns=["user_id"]).column(0).to_pylist()
                }
            )
            run.sample("codecs.kdf_useful_ratio", distinct / max(calls, 1))
        release_persisted()
        return [(b["durations"]["triggerExecution"] / 1e3, b["rows"]) for b in batches]

    def check(self, run):
        spark = run.spark
        inputs: dict[int, int] = {}
        outputs: dict[int, str] = {}
        for g in range(self.n_ops):
            for f in self.files(run, g):
                t = pq.read_table(f, columns=["event_id", "user_id"])
                inputs.update(zip(t.column(0).to_pylist(), t.column(1).to_pylist()))
            out = spark.read.parquet(run.path("stream_out", f"g{g:02d}"))
            outputs.update(
                (r[0], r[1]) for r in out.select("event_id", "user_pseudonym").collect()
            )
        users = sorted(set(inputs.values()))
        expected = dict(
            spark.createDataFrame([(u,) for u in users], "user_id long")
            .selectExpr(
                "user_id",
                "mask_string_alphabet(8, '0123456789', true, CAST(user_id AS STRING))",
            )
            .collect()
        )
        errs = checks.check_stream(inputs, outputs, expected)
        codec = HmacSHA512()
        for u in users[:20]:
            want = mask_string_value(codec, PASSPHRASE, 8, checks.DIGITS, None, True, str(u))
            if expected[u] != want:
                errs.append(f"user {u}: batch UDF {expected[u]!r}, in-process {want!r}")
        return errs

    def layers(self, run):
        users = [str(u) for u in range(200)]
        codec = HmacSHA512()
        codec.hash("warm", True, PASSPHRASE)
        out = {
            "functions.masking.value_us.mask_string_alphabet": _value_us(
                lambda v: mask_string_value(codec, PASSPHRASE, 8, checks.DIGITS, None, True, v),
                users),
        }
        out.update(codec_hash_us(users))
        return out


# --------------------------------------------------------------------------


class AnalyticsMix(Workload):
    """A closed loop with one client running registry queries over
    generated TPC-H-shaped tables at scale factor 0.1; no mask UDF is on
    this path. ``q_stream_event_counts`` drains a real Structured Streaming
    query. One operation is one pass over every query.

    The queries run in this fixed order; the seed fixes only the data. With
    the order drawn from the seed, which query ran first moved a pass by
    ~20 % (see the README), a spread that says nothing about the engine."""

    name = "analytics_mix"
    unit = "pass"
    SF = 0.1
    QUERIES = (
        "q_stream_event_counts",
        "q3_shipping_priority",
    )

    def generate(self, run):
        import __spark_entry__ as entry

        sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
        qs, oracles = entry.queries(), entry.oracle_sql()
        self.fns = {q: qs[q] for q in self.QUERIES}
        self.oracles = {q: oracles.get(q) for q in self.QUERIES}
        self.data = run.path("mix")
        sizes = gen.write_mix_tables(self.data, run.seed, self.SF)
        sizes["queries"] = len(self.QUERIES)
        return sizes

    def warm(self, run):
        """Two untimed passes: the first checked against the DuckDB oracle,
        the second because one pass leaves the session far from warm (see
        the README)."""
        from oracle_check import compare_query

        run.progress.attach(run.spark)
        errs = []
        first = last_execution_id(run.spark)
        for q in self.QUERIES:
            t0 = time.perf_counter()
            res = compare_query(q, self.fns[q], self.oracles[q], run.spark, self.data)
            print(f"  warm {q}: {time.perf_counter() - t0:.2f} s", file=sys.stderr)
            errs += checks.check_oracle_result(res)
            release_persisted()
            run.spark.catalog.clearCache()
        # the rows one pass reads, from the scan nodes' SQL metrics
        self.rows = scanned_rows_since(run.spark, first)
        print(f"  input.scanned_rows_per_pass = {self.rows}")
        if not self.rows:
            errs.append("analytics_mix: the warm pass scanned no rows")
        self._pass(run)
        return errs

    def op(self, run):
        latency, per_query = self._pass(run)
        for q, t in per_query.items():
            run.sample(f"mix.query_s.{q}", t)
        return [(latency, self.rows)]

    def _pass(self, run) -> tuple[float, dict[str, float]]:
        """One pass over every query, in order; returns its latency and
        each query's."""
        spark, tr = run.spark, run.tracer
        per_query = {}
        t_pass = time.perf_counter()
        for q in self.QUERIES:
            t0 = time.perf_counter()
            with tr.span("plans.query"):
                sdf = self.fns[q](spark, self.data)
                sdf.toPandas()
            per_query[q] = time.perf_counter() - t0
            released = release_persisted()
            spark.catalog.clearCache()
            if tr.enabled:
                run.sample(f"plans.exchanges.{q}", exchange_count(sdf))
                run.sample("cache.persisted_frames", released)
        return time.perf_counter() - t_pass, per_query

    def check(self, run):
        return []  # the warm pass already checked every query against its oracle

    def layers(self, run):
        out = {
            f"plans.query_s.{q}": median(run.layer_samples.get(f"mix.query_s.{q}", []))
            for q in self.QUERIES
        }
        out.update(codec_hash_us([f"Customer#{i:09d}" for i in range(200)]))
        return out



PER_LAYER: dict[str, str] = {
    "session.get_spark_s": "s",
    "functions.register_udfs_s": "s",
    "plans.pipeline.from_config_ms": "ms",
    "schema.parse_schema_ms": "ms",
    "operators.extract.self_s": "s",
    "operators.typing.self_s": "s",
    "operators.mask.self_s": "s",
    "operators.load.self_s": "s",
    "operators.mask.compile_ms": "ms",
    "operators.load.bytes_out_per_byte_in": "ratio",
    **{
        f"functions.masking.value_us.{fn}": "us"
        for fn in (
            "mask_string",
            "mask_string_alphabet",
            "mask_string_alphabet_format",
            "mask_date",
            "mask_timestamp",
            "mask_decimal",
        )
    },
    "functions.masking.python_bytes_per_row": "B/row",
    "codecs.hash_us.HmacSHA512": "us",
    "codecs.hash_us.PBKDF2WithHmacSHA512": "us",
    "codecs.kdf_calls": "count",
    "codecs.kdf_useful_ratio": "ratio",
    "codecs.key_stretch_s": "s",
    "codecs.instances_per_task": "count",
    **{name: "ms" for name in STREAM_DURATIONS},
    **{f"plans.query_s.{q}": "s" for q in AnalyticsMix.QUERIES},
    **{f"plans.exchanges.{q}": "count" for q in AnalyticsMix.QUERIES},
    "cache.persisted_frames": "count",
    "trace.overhead_ms": "ms",
}

WORKLOADS = {
    w.name: w
    for w in (EtlMaskPipeline, KdfSkewedKeys, StreamMaskMicrobatch, AnalyticsMix)
}
