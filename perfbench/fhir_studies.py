"""``fhir_studies``: the paper's pipeline, one study after another.

Each study goes descendant_snapshot → run_pipeline → load_all with
keyed_parquet_upsert, the ``fhir-etl`` CLI path. A round takes the next
study of the snapshot and loads it twice into a location of its own: the
*full* operation is the first load into the empty location, the *delta*
operation the re-ingest over it, which takes the read + anti-join + rewrite
path of every target. Loading one study after another in one session is
what lets a cross-study cache show.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import pyarrow.parquet as pq

import fhir_gen
from harness import DELTA, FULL, Op, Workload
from probes import MB
from trace import Tracer

HASHES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fhir_hashes.json")

RESOURCE_TYPES = {
    "Practitioner": "Practitioner",
    "Organization": "Organization",
    "PractitionerRole": "PractitionerRole",
    "Patient": "Patient",
    "ProbandStatus": "Observation",
    "FamilyRelationship": "Observation",
    "Family": "Group",
    "ResearchStudy": "ResearchStudy",
    "ResearchSubject": "ResearchSubject",
    "Disease": "Condition",
    "Phenotype": "Condition",
    "VitalStatus": "Observation",
    "SequencingCenter": "Organization",
    "Specimen": "Specimen",
    "Histopathology": "Observation",
    "DRSDocumentReference": "DocumentReference",
}


def data_bytes(path: str) -> int:
    """Bytes of the parquet data files under ``path``."""
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files if f.endswith(".parquet"))
    return total


class FhirStudies(Workload):
    name = "fhir_studies"

    def generate(self, seed: int) -> dict:
        self.source = os.path.join(self.data_dir, "source")
        self.sink = os.path.join(self.data_dir, "sink")
        self.planted = fhir_gen.generate(seed, self.source)
        self.studies = sorted(self.planted)
        sizes = {}
        for fname in sorted(os.listdir(self.source)):
            meta = pq.read_metadata(os.path.join(self.source, fname))
            sizes[fname[: -len(".parquet")]] = {
                "rows": meta.num_rows,
                "bytes": os.path.getsize(os.path.join(self.source, fname)),
            }
        sizes["studies"] = fhir_gen.N_STUDIES
        sizes["participants_per_study"] = fhir_gen.PARTICIPANTS
        # hashes recorded for some seeds hold the FHIR JSON byte-identical
        # across versions of the program, not just across reloads
        self.hashes: dict[str, str] = {}
        if os.path.exists(HASHES):
            with open(HASHES) as fh:
                self.hashes = dict(json.load(fh).get(str(seed), {}))
        self.recorded = set(self.hashes)
        return sizes

    def prepare(self, spark) -> None:
        super().prepare(spark)
        # the CLI's catalog: one parquet scan per endpoint file
        self.tables = {
            fname[: -len(".parquet")]: spark.read.parquet(os.path.join(self.source, fname))
            for fname in sorted(os.listdir(self.source))
            if fname.endswith(".parquet")
        }

    def install_tracing(self, tracer: Tracer) -> None:
        from kf_task_fhir_etl_spark import etl
        from kf_task_fhir_etl_spark.sources import lineage, sinks

        super().install_tracing(tracer)
        tracer.wrap(lineage, "descendant_snapshot", "sources.snapshot")
        tracer.wrap(etl, "run_pipeline", "etl.run_pipeline")
        tracer.wrap(etl, "transform_study", "plans.transform")
        tracer.wrap(etl, "build_resources", "builders.build")
        tracer.wrap(sinks, "load_all", "sinks.load_all")
        # a first write and a merge into stored results are different paths
        tracer.wrap(sinks, "keyed_parquet_upsert",
                    lambda spark, df, path, key: "sinks.merge" if os.path.exists(path) else "sinks.write")

    def _location(self, index: int) -> str:
        return os.path.join(self.sink, f"round{index}")

    def _study(self, index: int) -> str:
        return self.studies[(index + self.warmup_rounds) % len(self.studies)]

    def load_study(self, study_id: str, out: str) -> tuple[str, str]:
        from kf_task_fhir_etl_spark import etl
        from kf_task_fhir_etl_spark.plans.transform import ALL_TARGETS
        from kf_task_fhir_etl_spark.sources import lineage, sinks

        spark = self.spark
        snapshot = lineage.descendant_snapshot(self.tables, study_id, strict=True)
        resources = etl.run_pipeline(snapshot)
        ordered = [t for t in ALL_TARGETS if t in resources]

        def write(target: str, df) -> None:
            sinks.keyed_parquet_upsert(spark, df, os.path.join(out, study_id, target), "target_id")

        sinks.load_all(resources, ordered, write)
        return study_id, out

    def operations(self, index: int):
        study, out = self._study(index), self._location(index)
        return [
            ("study_full", FULL, lambda: self.load_study(study, out)),
            ("study_delta", DELTA, lambda: self.load_study(study, out)),
        ]

    def end_round(self, index: int) -> None:
        shutil.rmtree(self._location(index), ignore_errors=True)

    def check(self, op: Op, payload: tuple[str, str]) -> str | None:
        """Per-type counts equal the planted ones, target ids are unique,
        and the content hash equals the recorded one for this seed, or else
        the study's first load (so the re-ingest is byte-identical). A load
        with no hash to compare against must parse, every resource with
        its resourceType."""
        study_id, out = payload
        planted = self.planted[study_id]
        out = os.path.join(out, study_id)
        written = sorted(os.listdir(out)) if os.path.isdir(out) else []
        if set(written) != set(planted):
            return f"{study_id}: targets {written} != planted {sorted(planted)}"
        digest = hashlib.sha256()
        final_bytes = 0
        docs_of = {}
        for target in sorted(planted):
            path = os.path.join(out, target)
            final_bytes += data_bytes(path)
            table = pq.read_table(path, columns=["target_id", "resource_json"]).to_pydict()
            ids, docs_of[target] = table["target_id"], table["resource_json"]
            if len(ids) != planted[target]:
                return f"{study_id}/{target}: {len(ids)} rows, planted {planted[target]}"
            if len(set(ids)) != len(ids):
                return f"{study_id}/{target}: duplicate target_id"
            for tid, doc in sorted(zip(ids, docs_of[target])):
                digest.update(f"{target}\t{tid}\t{doc}\n".encode())
        op.extra["final_bytes"] = final_bytes
        h = digest.hexdigest()
        if study_id not in self.hashes:
            for target, docs in docs_of.items():
                if any(json.loads(doc).get("resourceType") != RESOURCE_TYPES[target] for doc in docs):
                    return f"{study_id}/{target}: wrong resourceType"
            self.hashes[study_id] = h
        if h != self.hashes[study_id]:
            origin = "recorded for this seed" if study_id in self.recorded else "first load"
            return f"{study_id}: content hash {h[:12]} != {origin} {self.hashes[study_id][:12]}"
        return None

    def layer_values(self, ops: list[Op], ledger) -> dict[str, float]:
        """Each layer's self time, jobs and py4j calls over one round (a
        first load and a re-ingest), and the share of the study spans the
        layer spans cover."""
        tracer = self.tracer
        out = dict.fromkeys(
            ("sources.snapshot_s", "sources.jobs", "plans.transform_s", "plans.py4j_calls",
             "builders.build_s", "builders.py4j_calls", "etl.self_s", "etl.jobs", "sinks.write_s",
             "sinks.merge_s", "sinks.jobs", "sinks.bytes_written_mb"), 0.0)
        written = final = covered = total = 0.0
        for op in ops:
            spans = tracer.descendants(op.span)
            jobs_of = lambda s: ledger.within(op.jobs, s.start, s.end)  # noqa: E731
            for s in spans:
                self_s = tracer.self_time(s)
                covered += self_s
                if s.name == "sources.snapshot":
                    out["sources.snapshot_s"] += self_s
                    out["sources.jobs"] += len(jobs_of(s))
                elif s.name == "plans.transform":
                    out["plans.transform_s"] += self_s
                    out["plans.py4j_calls"] += s.py4j_calls
                elif s.name == "builders.build":
                    out["builders.build_s"] += self_s
                    out["builders.py4j_calls"] += s.py4j_calls
                elif s.name == "etl.run_pipeline":
                    out["etl.self_s"] += self_s
                    inner = {j.job_id for c in s.children for j in jobs_of(tracer.spans[c])}
                    out["etl.jobs"] += sum(1 for j in jobs_of(s) if j.job_id not in inner)
                elif s.name in ("sinks.write", "sinks.merge"):
                    out[f"{s.name}_s"] += self_s
                    sink_jobs = jobs_of(s)
                    out["sinks.jobs"] += len(sink_jobs)
                    written += sum(st.output_bytes for st in ledger.stages_of(sink_jobs))
            final += op.extra.get("final_bytes", 0)
            total += op.span.end - op.span.start
        out["sinks.bytes_written_mb"] = written / MB
        out["sinks.write_amp"] = written / final if final else 0.0
        out["span_coverage"] = covered / total if total else 0.0
        return out
