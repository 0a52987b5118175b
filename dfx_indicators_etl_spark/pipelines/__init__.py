"""Source pipelines: Retriever → Transformer → load (SURVEY §1).

``SOURCES`` maps provider names to their (Retriever, Transformer)
classes — the switchboard equivalent of the reference's
``pipelines/__init__`` module registry. Transformers taking a
``country_mapping`` frame receive it at construction (the distributed
stand-in for ``country_converter`` / the UNSD M49 table).
"""

from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

from pyspark import inheritable_thread_target

from . import (
    energydata_info,
    healthdata_ghdx,
    ilo_sdmx_api,
    imf_datamapper_api,
    sipri_milex,
    unaids_kpatlas,
    unicef_sdmx_api,
    unstats_sdg_api,
    unstats_sdg_database,
    who_gho_api,
    world_bank_api,
    world_bank_wdi,
)
from .base import (
    BaseRetriever,
    BaseTransformer,
    Pipeline,
    PipelineSettings,
    union_all,
)

SOURCES = {
    "energydata_info": energydata_info,
    "healthdata_ghdx": healthdata_ghdx,
    "ilo_sdmx_api": ilo_sdmx_api,
    "imf_datamapper_api": imf_datamapper_api,
    "sipri_milex": sipri_milex,
    "unaids_kpatlas": unaids_kpatlas,
    "unicef_sdmx_api": unicef_sdmx_api,
    "unstats_sdg_api": unstats_sdg_api,
    "unstats_sdg_database": unstats_sdg_database,
    "who_gho_api": who_gho_api,
    "world_bank_api": world_bank_api,
    "world_bank_wdi": world_bank_wdi,
}

__all__ = [
    "BaseRetriever",
    "BaseTransformer",
    "Pipeline",
    "PipelineSettings",
    "SOURCES",
    "list_pipelines",
    "get_pipeline",
    "run_all",
    "union_all",
]


def list_pipelines() -> list[str]:
    """Available pipeline names (reference
    `pipelines/__init__.py:14-27`)."""
    return sorted(SOURCES)


def get_pipeline(
    name: str,
    country_mapping=None,
    storage_root: str | None = None,
    countries=None,
    country_key: str = "iso_alpha_3",
    settings: PipelineSettings | None = None,
    **transformer_kwargs,
) -> Pipeline:
    """Runnable pipeline instance (reference
    `pipelines/__init__.py:30-57`).

    Transformers whose constructor needs the country-mapping frame (the
    distributed stand-in for ``country_converter`` / the UNSD M49
    table) receive ``country_mapping``; the rest take only their own
    ``transformer_kwargs`` (e.g. the ILO codelists).
    """
    import inspect

    if name not in SOURCES:
        raise ValueError(
            f"Pipeline '{name}' does not exist. "
            f"Available pipelines: {list_pipelines()}"
        )
    module = SOURCES[name]
    params = inspect.signature(module.Transformer.__init__).parameters
    if "country_mapping" in params:
        transformer_kwargs.setdefault("country_mapping", country_mapping)
    return Pipeline(
        retriever=module.Retriever(),
        transformer=module.Transformer(**transformer_kwargs),
        storage_root=storage_root,
        countries=countries,
        country_key=country_key,
        settings=settings or PipelineSettings(),
    )


def run_all(
    spark,
    inputs: dict[str, dict],
    storage_root: str,
    country_mapping=None,
    countries=None,
    country_key: str = "iso_alpha_3",
    settings: PipelineSettings | None = None,
) -> dict:
    """The reference's etl.ipynb loop over every configured source:
    retrieve → transform (+M49 filter +year cut) → versioned load, one
    pipeline per ``inputs`` key. ``inputs[name]`` holds the retriever
    kwargs (a pre-staged ``payload`` frame, a ``path``, or nothing for
    live-HTTP retrievers). Each source lands under
    ``<storage_root>/<version>/<name>.parquet``; returns ``{name:
    landed DataFrame}`` in ``inputs`` order, each frame scanning only
    its landed files (``Pipeline.run``), so a star build over them
    never re-runs the source lineages.

    The refresh is concurrent and reads M49 once:

    - each distinct ``country_mapping`` / ``countries`` frame (the same
      frame passed twice is checkpointed once) is materialized with an
      eager ``localCheckpoint``, so every transformer broadcasts from
      those rows instead of re-parsing the M49 CSV;
    - the sources run on a driver thread pool of width
      ``min(len(inputs), max(2, defaultParallelism // 2))``. A source is
      a chain of small, mostly single-task jobs, so overlapping sources
      fills idle cores; half the cores keeps peak memory near a
      one-at-a-time run;
    - workers inherit the caller's local properties (job group,
      description, scheduler pool) and session tags through
      ``inheritable_thread_target``, so ``cancelJobGroup`` on the
      caller's group cancels the refresh;
    - when a source raises, queued sources are cancelled, in-flight
      ones finish, and the first failure in ``inputs`` order is
      re-raised with a note naming its source. No pool thread launches
      jobs after ``run_all`` returns.
    """
    if not inputs:
        return {}
    mapping = (
        None if country_mapping is None
        else country_mapping.localCheckpoint(eager=True)
    )
    if countries is country_mapping:
        countries = mapping
    elif countries is not None:
        countries = countries.localCheckpoint(eager=True)

    def land(name: str, kwargs: dict):
        pipeline = get_pipeline(
            name,
            country_mapping=mapping,
            storage_root=storage_root,
            countries=countries,
            country_key=country_key,
            settings=settings,
        )
        return pipeline.run(spark, **kwargs)

    width = min(len(inputs), max(2, spark.sparkContext.defaultParallelism // 2))
    with ThreadPoolExecutor(max_workers=width, thread_name_prefix="run_all") as pool:
        # Wrapped per submission: each source gets its own copy of the
        # caller's local properties and session tags.
        futures = {
            name: pool.submit(inheritable_thread_target(spark)(land), name, kwargs)
            for name, kwargs in inputs.items()
        }
        wait(futures.values(), return_when=FIRST_EXCEPTION)
        for future in futures.values():
            future.cancel()  # only sources still queued after a failure
    results = {}
    for name, future in futures.items():
        if future.cancelled():
            continue
        try:
            results[name] = future.result()
        except Exception as error:
            error.add_note(f"run_all: source {name!r} failed")
            raise
    return results
