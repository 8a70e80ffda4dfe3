"""RDF namespace / IRI constants.

Mirrors the reference's namespace set (reference:
Code/create_yelp_nt_files.py:13-19, Code/KnowledgeGraphEnrichment/
location_namespaces.py:3-14) as plain strings — no rdflib objects anywhere in
this engine; IRIs are just string columns.
"""

SCHEMA = "https://schema.org/"
SKOS = "https://www.w3.org/2004/02/skos/core#"
BUSINESS_URI = "https://www.yelp.com/biz/"
USER_URI = "https://www.yelp.com/user_details?userid="
YELPCAT = "https://purl.archive.org/purl/yckg/categories#"
YELPVOC = "https://purl.archive.org/purl/yckg/vocabulary#"
YELPENT = "https://purl.archive.org/purl/yckg/entities#"
WD = "https://www.wikidata.org/entity/"
WDT = "https://www.wikidata.org/wiki/Property:"

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"
RDFS_SUBCLASSOF = "http://www.w3.org/2000/01/rdf-schema#subClassOf"

XSD = "http://www.w3.org/2001/XMLSchema#"
XSD_STRING = XSD + "string"
XSD_INTEGER = XSD + "integer"
XSD_DECIMAL = XSD + "decimal"
XSD_DATETIME = XSD + "dateTime"
XSD_BOOLEAN = XSD + "boolean"
XSD_ANYURI = XSD + "anyURI"

# Wikidata property IRIs (reference: location_namespaces.py:12-14)
POPULATION_PREDICATE = WDT + "P1082"
LOCATION_PREDICATE = WDT + "P131"
INSTANCE_OF_PREDICATE = WDT + "P31"

# Wikidata class QIDs used by the location cascade
# (reference: Code/KnowledgeGraphEnrichment/location_dicts.py:65-70 and
#  location_from_wikidata.py:418,429-441)
Q_HUMAN_SETTLEMENT = "Q486972"
Q_COUNTY = "Q28575"
Q_STATE = "Q7275"
Q_COUNTRY = "Q6256"
