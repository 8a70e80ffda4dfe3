"""The 16 competency questions (reference:
Code/CompetencyQuestions/Yelp_CQ.md) as Spark SQL over the triples table.

The reference runs these as SPARQL against a Virtuoso endpoint
(run_query.py:6-44); here the triples DataFrame is registered as a view and
every triple pattern becomes a self-join — broadcast/SMJ chosen by Catalyst,
AQE re-planning at runtime. Each function returns a DataFrame with stable,
aliased column names.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from yckg_spark.namespaces import (
    RDF_TYPE,
    SCHEMA,
    YELPCAT,
    YELPVOC,
)

VIEW = "triples"


def register(spark: SparkSession, triples: DataFrame) -> None:
    triples.createOrReplaceTempView(VIEW)


def cq1_distinct_categories(spark):
    """How many different business categories exist? (CQ1)"""
    return spark.sql(f"""
        SELECT COUNT(DISTINCT object) AS unique_categories
        FROM {VIEW} WHERE predicate = '{SCHEMA}keywords'
    """)


def cq2_restaurants_count(spark):
    return spark.sql(f"""
        SELECT COUNT(DISTINCT subject) AS number_restaurants
        FROM {VIEW}
        WHERE predicate = '{SCHEMA}keywords' AND object = '{YELPCAT}Restaurants'
    """)


def cq3_reviewed_restaurants(spark):
    return spark.sql(f"""
        SELECT COUNT(DISTINCT b.subject) AS business_count
        FROM {VIEW} b
        JOIN {VIEW} r ON r.object = b.subject AND r.predicate = '{SCHEMA}about'
            AND NOT r.is_literal  -- tip about-links are literals (xsd:anyURI):
                                  -- a literal can never bind a SPARQL subject
        WHERE b.predicate = '{SCHEMA}keywords' AND b.object = '{YELPCAT}Restaurants'
    """)


def cq4_reviewed_businesses(spark):
    return spark.sql(f"""
        SELECT COUNT(DISTINCT object) AS business_count
        FROM {VIEW} WHERE predicate = '{SCHEMA}about' AND NOT is_literal
    """)


def cq5_high_rated_businesses(spark):
    return spark.sql(f"""
        SELECT COUNT(DISTINCT t.subject) AS high_rated
        FROM {VIEW} t
        JOIN {VIEW} r ON r.subject = t.subject AND r.predicate = '{SCHEMA}aggregateRating'
        WHERE t.predicate = '{RDF_TYPE}' AND t.object = '{SCHEMA}LocalBusiness'
          AND TRY_CAST(r.object AS DOUBLE) > 4
    """)


def cq6_average_rating(spark):
    return spark.sql(f"""
        SELECT AVG(TRY_CAST(r.object AS DOUBLE)) AS average_rating
        FROM {VIEW} t
        JOIN {VIEW} r ON r.subject = t.subject AND r.predicate = '{SCHEMA}aggregateRating'
        WHERE t.predicate = '{RDF_TYPE}' AND t.object = '{SCHEMA}LocalBusiness'
    """)


def cq7_reviewed_in_city(spark, city: str = "Santa Barbara"):
    return spark.sql(f"""
        SELECT COUNT(DISTINCT c.subject) AS count_business
        FROM {VIEW} c
        JOIN {VIEW} r ON r.object = c.subject AND r.predicate = '{SCHEMA}about'
            AND NOT r.is_literal
        WHERE c.predicate = '{YELPVOC}locatedInCity' AND c.object = '{city}'
    """)


def cq8_max_visits_one_day(spark):
    return spark.sql(f"""
        SELECT o.object AS business,
               year(TRY_CAST(t.object AS TIMESTAMP)) AS year,
               month(TRY_CAST(t.object AS TIMESTAMP)) AS month,
               day(TRY_CAST(t.object AS TIMESTAMP)) AS day,
               CAST(SUM(TRY_CAST(v.object AS BIGINT)) AS BIGINT) AS number_of_visits
        FROM {VIEW} o
        JOIN {VIEW} t ON t.subject = o.subject AND t.predicate = '{SCHEMA}startTime'
        JOIN {VIEW} v ON v.subject = o.subject AND v.predicate = '{SCHEMA}interactionStatistic'
        WHERE o.predicate = '{SCHEMA}object'
        GROUP BY 1, 2, 3, 4
        ORDER BY number_of_visits DESC, business, year, month, day
        LIMIT 1
    """)


def cq9_most_visited_business(spark):
    return spark.sql(f"""
        SELECT o.object AS business,
               CAST(SUM(TRY_CAST(v.object AS BIGINT)) AS BIGINT) AS count_visits
        FROM {VIEW} o
        JOIN {VIEW} v ON v.subject = o.subject AND v.predicate = '{SCHEMA}interactionStatistic'
        WHERE o.predicate = '{SCHEMA}object'
        GROUP BY 1
        ORDER BY count_visits DESC, business
        LIMIT 1
    """)


def cq10_review_authors(spark):
    return spark.sql(f"""
        SELECT COUNT(DISTINCT object) AS count_users
        FROM {VIEW} WHERE predicate = '{SCHEMA}author' AND NOT is_literal
    """)


def cq11_users_with_10_friends(spark):
    return spark.sql(f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS users_with_10_friends
        FROM (
            SELECT subject FROM {VIEW}
            WHERE predicate = '{SCHEMA}knows'
            GROUP BY subject HAVING COUNT(object) > 10
        )
    """)


def cq12_average_friends(spark):
    return spark.sql(f"""
        SELECT CAST(f.n AS DOUBLE) / CAST(u.n AS DOUBLE) AS average_friends
        FROM (SELECT COUNT(*) AS n FROM {VIEW}
              WHERE predicate = '{RDF_TYPE}' AND object = '{SCHEMA}Person') u
        CROSS JOIN (SELECT COUNT(*) AS n FROM {VIEW} WHERE predicate = '{SCHEMA}knows') f
    """)


def cq13_users_with_exactly_10_reviews(spark):
    return spark.sql(f"""
        SELECT COUNT(*) AS count_users
        FROM (
            SELECT a.object FROM {VIEW} a
            JOIN {VIEW} t ON t.subject = a.subject
                AND t.predicate = '{RDF_TYPE}' AND t.object = '{SCHEMA}UserReview'
            WHERE a.predicate = '{SCHEMA}author'
            GROUP BY a.object HAVING COUNT(*) = 10
        )
    """)


def cq14_reviews_in_month(spark, year: int = 2018, month: int = 5):
    return spark.sql(f"""
        SELECT year(TRY_CAST(d.object AS TIMESTAMP)) AS year,
               month(TRY_CAST(d.object AS TIMESTAMP)) AS month,
               COUNT(*) AS count_reviews
        FROM {VIEW} d
        JOIN {VIEW} t ON t.subject = d.subject
            AND t.predicate = '{RDF_TYPE}' AND t.object = '{SCHEMA}UserReview'
        WHERE d.predicate = '{SCHEMA}dateCreated'
          AND year(TRY_CAST(d.object AS TIMESTAMP)) = {year}
          AND month(TRY_CAST(d.object AS TIMESTAMP)) = {month}
        GROUP BY 1, 2
    """)


def cq15_parking_options(spark):
    return spark.sql(f"""
        SELECT COUNT(DISTINCT p.predicate) AS parking_options
        FROM {VIEW} t
        JOIN {VIEW} p ON p.subject = t.subject AND p.predicate != '{RDF_TYPE}'
        WHERE t.predicate = '{RDF_TYPE}' AND t.object = '{SCHEMA}ParkingFacility'
    """)


def cq16_karaoke_businesses(spark):
    return spark.sql(f"""
        SELECT COUNT(DISTINCT m.subject) AS businesses_with_karaoke
        FROM {VIEW} m
        JOIN {VIEW} k ON k.subject = m.object
            AND k.predicate = '{YELPVOC}haskaraoke' AND k.object = 'true'
        WHERE m.predicate = '{YELPVOC}hasMusic'
    """)


ALL_CQS = {
    "cq1": cq1_distinct_categories,
    "cq2": cq2_restaurants_count,
    "cq3": cq3_reviewed_restaurants,
    "cq4": cq4_reviewed_businesses,
    "cq5": cq5_high_rated_businesses,
    "cq6": cq6_average_rating,
    "cq7": cq7_reviewed_in_city,
    "cq8": cq8_max_visits_one_day,
    "cq9": cq9_most_visited_business,
    "cq10": cq10_review_authors,
    "cq11": cq11_users_with_10_friends,
    "cq12": cq12_average_friends,
    "cq13": cq13_users_with_exactly_10_reviews,
    "cq14": cq14_reviews_in_month,
    "cq15": cq15_parking_options,
    "cq16": cq16_karaoke_businesses,
}
