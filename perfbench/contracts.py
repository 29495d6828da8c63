"""The evidence parser pipelines of the ``pipelines`` workload and their
output contracts.

Each entry is ``name -> (build, output DDL, JSON Schema)``.  ``build`` reads
the generated inputs from ``config["in_dir"]`` with the engine's readers,
in the format the reference parser reads them in (see ``inputs.py``), and
calls the engine's parser function; the DDL is the exact Spark schema the
Runner enforces before the sink, the JSON Schema the value-level contract
it validates after it.
"""

from __future__ import annotations


def _path(config, name):
    return f"{config['in_dir']}/{name}"


def _read_csv(spark, config, name, sep=","):
    from evidence_datasource_parsers_spark.sources.readers import read_csv

    return read_csv(spark, _path(config, name), sep=sep, infer_schema=True)


def slapenrich(spark, config):
    from evidence_datasource_parsers_spark.pipelines.slapenrich import (
        slapenrich_evidence,
    )

    return slapenrich_evidence(
        _read_csv(spark, config, "slapenrich_pathways.tsv", sep="\t"),
        _read_csv(spark, config, "slapenrich_lut.tsv", sep="\t"))


def impc(spark, config):
    from evidence_datasource_parsers_spark.pipelines.impc_like import (
        impc_evidence,
    )

    return impc_evidence(*(_read_csv(spark, config, f"impc_{t}.csv") for t in
                           ("dm", "mouse_genes", "gene_map", "human", "mp",
                            "dp")))


def _schema(required: dict, datasource: str | None = None,
            optional: dict | None = None) -> dict:
    """Object schema; ``optional`` properties may be null, which the JSON
    sink writes as an absent key."""
    props = dict(required)
    if datasource:
        props["datasourceId"] = {"const": datasource}
    return {"type": "object", "required": sorted(props),
            "properties": {**props, **(optional or {})}}


_STR = {"type": "string", "minLength": 1}
_PHENOS = {"type": "array", "items": {
    "type": "object", "required": ["phenotype_id", "phenotype_term"],
    "properties": {"phenotype_id": {"type": "string",
                                    "pattern": "^(MP|HP):"}}}}

PIPELINES = {
    "slapenrich": (
        slapenrich,
        "datasourceId string, datatypeId string, targetFromSourceId string, "
        "diseaseFromSource string, diseaseFromSourceMappedId string, "
        "resourceScore double, pathways array<struct<id:string,name:string>>",
        _schema({"targetFromSourceId": _STR,
                 "diseaseFromSourceMappedId": {"type": "string",
                                               "pattern": "^EFO:"},
                 "resourceScore": {"type": "number", "minimum": 0,
                                   "exclusiveMaximum": 1e-4},
                 "pathways": {"type": "array", "minItems": 1}},
                "slapenrich"),
    ),
    "impc": (
        impc,
        "datasourceId string, datatypeId string, targetFromSourceId string, "
        "targetInModel string, targetInModelMgiId string, "
        "diseaseFromSource string, diseaseFromSourceId string, "
        "biologicalModelId string, biologicalModelAllelicComposition string, "
        "resourceScore double, "
        "diseaseModelAssociatedModelPhenotypes array<struct<"
        "phenotype_id:string,phenotype_term:string>>, "
        "diseaseModelAssociatedHumanPhenotypes array<struct<"
        "phenotype_id:string,phenotype_term:string>>",
        _schema({"targetFromSourceId": {"type": "string",
                                        "pattern": "^ENSG"},
                 "biologicalModelAllelicComposition": {
                     "enum": ["hom", "het", "hemi"]},
                 "resourceScore": {"type": "number", "minimum": 0,
                                   "maximum": 1},
                 "diseaseModelAssociatedModelPhenotypes": _PHENOS},
                "impc",
                optional={"diseaseModelAssociatedHumanPhenotypes": _PHENOS}),
    ),
}
