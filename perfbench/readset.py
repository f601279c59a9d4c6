"""The dashboard read set shared by ``poll`` and ``stream``: a star join
and three aggregates over one date range of the fact table."""

from __future__ import annotations

from pyspark.sql import functions as F


def run_read_set(news, countries, sources) -> dict:
    """Evaluate the four dashboard answers over the (already date-ranged)
    fact frame ``news`` and collect them in the model's shape."""
    star = (
        news.join(F.broadcast(countries.select(F.col("id").alias("id_country"), F.col("name").alias("country"))), "id_country")
        .join(F.broadcast(sources.select(F.col("id").alias("id_source"), F.col("name").alias("source"))), "id_source")
        .groupBy("country", "source")
        .count()
        .collect()
    )
    per_country = (
        news.groupBy("id_country")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("title").alias("titles"))
        .collect()
    )
    per_source = (
        news.groupBy("id_source")
        .agg(F.count(F.lit(1)).alias("n"), F.max("id_date").alias("latest"))
        .collect()
    )
    hours = news.groupBy((F.col("id_date") % 100).alias("h")).count().collect()
    return {
        "star": sorted((r["country"], r["source"], r["count"]) for r in star),
        "country": sorted((r["id_country"], r["n"], r["titles"]) for r in per_country),
        "source": sorted((r["id_source"], r["n"], r["latest"]) for r in per_source),
        "hour": sorted((r["h"], r["count"]) for r in hours),
    }
