package graft.features

import graft.py.Py
import graft.urls.Canonicalize

/** The URL features of extractor sets 1, 2s, 3 and 4 — the URL slices
  * of the reference's non-default sets (`feature_extractor.py --select
  * extractorsN`, SURVEY.md §2.6) that the `url_features_sets` query
  * ships, with every set-specific quirk cited and mirrored. The engine
  * extracts one full set, set 5 ([[ExtractorSet5]]); the HTTP/NSLOOKUP
  * parts of the other sets are not implemented (no entry point selects
  * a set).
  */
object UrlFeatureSets {

  private def domain(url: String): String = Canonicalize.extractorDomain(url)

  // the sets share set-5's url primitives verbatim (each reference
  // url_feature.py carries the same code) — ONE copy, in UrlFeatures
  private def isIp(url: String): Boolean = UrlFeatures.isIpAddress(url)

  private def isAt(url: String): Boolean =
    UrlFeatures.withoutParameter(url).indexOf('@') > -1

  private def isSpecial(url: String): Boolean = UrlFeatures.isSpecialWords(url)

  private def dots(url: String): Int = UrlFeatures.dots(url)

  private def b(v: Boolean): Double = if (v) 1.0 else 0.0

  /** Set 1 — `extractors/url_feature.py:8`:
    * [is_long_url, dots, is_ip_address, is_http_connection,
    * is_at_symbol, is_hexadecimal]. */
  def set1(url: String): Vector[Double] = Vector(
    b(url.length >= 127),                       // :13-14
    dots(url).toDouble,
    b(isIp(url)),
    b(Py.sliceTo(url, 5) != "https"),
    b(isAt(url)),
    b(domain(url).indexOf('%') > -1))

  /** Set 2s — `extractors2s/url_feature.py:10`:
    * [ip_or_hex, dots (3-way), is_at_symbol, url_length (3-way)]. */
  def set2s(url: String): Vector[Double] = {
    val dotsPart = dots(url)
    val dots3 = if (dotsPart < 2) 1 else if (dotsPart == 2) 0 else -1 // :59-69
    val len = url.length
    val len3 = if (len < 54) 1 else if (len > 75) 0 else -1           // :148-155
    Vector(
      b(domain(url).indexOf('%') > -1 || isIp(url)),                  // :46-49
      dots3.toDouble, b(isAt(url)), len3.toDouble)
  }

  /** Set 4 — `extractors4/url_feature.py:8`:
    * [is_ip_address, dots, is_special_words, is_slashes]. */
  def set4(url: String): Vector[Double] = {
    val p = url.indexOf("//") + 2
    val isSlashes = Py.sliceFrom(url, p).indexOf('/') > 0 // :10-12
    Vector(b(isIp(url)), dots(url).toDouble, b(isSpecial(url)), b(isSlashes))
  }

  // -------------------------------------------------------------- set 3

  /** Brand list (`extractors3/url_feature.py:236,259,277`). */
  val brands: Vector[String] = Vector(
    "dropbox", "google", "paypal", "battle.net", "yahoo", "drive", "alibaba",
    "DHL", "bank", "hotmail", ".irs.", "facebook", "itau", "impots.gouv",
    "amazon", "amazonaws", "made-in-china", "twitter", "gov.uk", "barclays")

  /** TLD containment list for F49 (`extractors3/url_feature.py:73-228`):
    * the FULL ~1530-entry IANA TLD registry as the reference inlines it,
    * UPPERCASE with a leading dot — so against lower-case domains the
    * substring test virtually never fires (case-sensitive `in`, quirk
    * preserved). Public IANA data (the registry is published at
    * data.iana.org/TLD); the constants ARE the spec here. */
  val tlds: Vector[String] = Vector(
    ".AAA", ".AARP", ".ABARTH", ".ABB", ".ABBOTT", ".ABBVIE", ".ABC", ".ABLE", ".ABOGADO", ".ABUDHABI", ".AC", ".ACADEMY", ".ACCENTURE", ".ACCOUNTANT",
    ".ACCOUNTANTS", ".ACO", ".ACTIVE", ".ACTOR", ".AD", ".ADAC", ".ADS", ".ADULT", ".AE", ".AEG", ".AERO", ".AETNA", ".AF", ".AFAMILYCOMPANY",
    ".AFL", ".AFRICA", ".AG", ".AGAKHAN", ".AGENCY", ".AI", ".AIG", ".AIGO", ".AIRBUS", ".AIRFORCE", ".AIRTEL", ".AKDN", ".AL", ".ALFAROMEO",
    ".ALIBABA", ".ALIPAY", ".ALLFINANZ", ".ALLSTATE", ".ALLY", ".ALSACE", ".ALSTOM", ".AM", ".AMERICANEXPRESS", ".AMERICANFAMILY", ".AMEX", ".AMFAM", ".AMICA", ".AMSTERDAM",
    ".ANALYTICS", ".ANDROID", ".ANQUAN", ".ANZ", ".AO", ".AOL", ".APARTMENTS", ".APP", ".APPLE", ".AQ", ".AQUARELLE", ".AR", ".ARAMCO", ".ARCHI",
    ".ARMY", ".ARPA", ".ART", ".ARTE", ".AS", ".ASDA", ".ASIA", ".ASSOCIATES", ".AT", ".ATHLETA", ".ATTORNEY", ".AU", ".AUCTION", ".AUDI",
    ".AUDIBLE", ".AUDIO", ".AUSPOST", ".AUTHOR", ".AUTO", ".AUTOS", ".AVIANCA", ".AW", ".AWS", ".AX", ".AXA", ".AZ", ".AZURE", ".BA",
    ".BABY", ".BAIDU", ".BANAMEX", ".BANANAREPUBLIC", ".BAND", ".BANK", ".BAR", ".BARCELONA", ".BARCLAYCARD", ".BARCLAYS", ".BAREFOOT", ".BARGAINS", ".BASEBALL", ".BASKETBALL",
    ".BAUHAUS", ".BAYERN", ".BB", ".BBC", ".BBT", ".BBVA", ".BCG", ".BCN", ".BD", ".BE", ".BEATS", ".BEAUTY", ".BEER", ".BENTLEY",
    ".BERLIN", ".BEST", ".BESTBUY", ".BET", ".BF", ".BG", ".BH", ".BHARTI", ".BI", ".BIBLE", ".BID", ".BIKE", ".BING", ".BINGO",
    ".BIO", ".BIZ", ".BJ", ".BLACK", ".BLACKFRIDAY", ".BLANCO", ".BLOCKBUSTER", ".BLOG", ".BLOOMBERG", ".BLUE", ".BM", ".BMS", ".BMW", ".BN",
    ".BNL", ".BNPPARIBAS", ".BO", ".BOATS", ".BOEHRINGER", ".BOFA", ".BOM", ".BOND", ".BOO", ".BOOK", ".BOOKING", ".BOOTS", ".BOSCH", ".BOSTIK",
    ".BOSTON", ".BOT", ".BOUTIQUE", ".BOX", ".BR", ".BRADESCO", ".BRIDGESTONE", ".BROADWAY", ".BROKER", ".BROTHER", ".BRUSSELS", ".BS", ".BT", ".BUDAPEST",
    ".BUGATTI", ".BUILD", ".BUILDERS", ".BUSINESS", ".BUY", ".BUZZ", ".BV", ".BW", ".BY", ".BZ", ".BZH", ".CA", ".CAB", ".CAFE",
    ".CAL", ".CALL", ".CALVINKLEIN", ".CAM", ".CAMERA", ".CAMP", ".CANCERRESEARCH", ".CANON", ".CAPETOWN", ".CAPITAL", ".CAPITALONE", ".CAR", ".CARAVAN", ".CARDS",
    ".CARE", ".CAREER", ".CAREERS", ".CARS", ".CARTIER", ".CASA", ".CASE", ".CASEIH", ".CASH", ".CASINO", ".CAT", ".CATERING", ".CATHOLIC", ".CBA",
    ".CBN", ".CBRE", ".CBS", ".CC", ".CD", ".CEB", ".CENTER", ".CEO", ".CERN", ".CF", ".CFA", ".CFD", ".CG", ".CH",
    ".CHANEL", ".CHANNEL", ".CHASE", ".CHAT", ".CHEAP", ".CHINTAI", ".CHLOE", ".CHRISTMAS", ".CHROME", ".CHRYSLER", ".CHURCH", ".CI", ".CIPRIANI", ".CIRCLE",
    ".CISCO", ".CITADEL", ".CITI", ".CITIC", ".CITY", ".CITYEATS", ".CK", ".CL", ".CLAIMS", ".CLEANING", ".CLICK", ".CLINIC", ".CLINIQUE", ".CLOTHING",
    ".CLOUD", ".CLUB", ".CLUBMED", ".CM", ".CN", ".CO", ".COACH", ".CODES", ".COFFEE", ".COLLEGE", ".COLOGNE", ".COM", ".COMCAST", ".COMMBANK",
    ".COMMUNITY", ".COMPANY", ".COMPARE", ".COMPUTER", ".COMSEC", ".CONDOS", ".CONSTRUCTION", ".CONSULTING", ".CONTACT", ".CONTRACTORS", ".COOKING", ".COOKINGCHANNEL", ".COOL", ".COOP",
    ".CORSICA", ".COUNTRY", ".COUPON", ".COUPONS", ".COURSES", ".CR", ".CREDIT", ".CREDITCARD", ".CREDITUNION", ".CRICKET", ".CROWN", ".CRS", ".CRUISE", ".CRUISES",
    ".CSC", ".CU", ".CUISINELLA", ".CV", ".CW", ".CX", ".CY", ".CYMRU", ".CYOU", ".CZ", ".DABUR", ".DAD", ".DANCE", ".DATA",
    ".DATE", ".DATING", ".DATSUN", ".DAY", ".DCLK", ".DDS", ".DE", ".DEAL", ".DEALER", ".DEALS", ".DEGREE", ".DELIVERY", ".DELL", ".DELOITTE",
    ".DELTA", ".DEMOCRAT", ".DENTAL", ".DENTIST", ".DESI", ".DESIGN", ".DEV", ".DHL", ".DIAMONDS", ".DIET", ".DIGITAL", ".DIRECT", ".DIRECTORY", ".DISCOUNT",
    ".DISCOVER", ".DISH", ".DIY", ".DJ", ".DK", ".DM", ".DNP", ".DO", ".DOCS", ".DOCTOR", ".DODGE", ".DOG", ".DOHA", ".DOMAINS",
    ".DOT", ".DOWNLOAD", ".DRIVE", ".DTV", ".DUBAI", ".DUCK", ".DUNLOP", ".DUNS", ".DUPONT", ".DURBAN", ".DVAG", ".DVR", ".DZ", ".EARTH",
    ".EAT", ".EC", ".ECO", ".EDEKA", ".EDU", ".EDUCATION", ".EE", ".EG", ".EMAIL", ".EMERCK", ".ENERGY", ".ENGINEER", ".ENGINEERING", ".ENTERPRISES",
    ".EPOST", ".EPSON", ".EQUIPMENT", ".ER", ".ERICSSON", ".ERNI", ".ES", ".ESQ", ".ESTATE", ".ESURANCE", ".ET", ".EU", ".EUROVISION", ".EUS",
    ".EVENTS", ".EVERBANK", ".EXCHANGE", ".EXPERT", ".EXPOSED", ".EXPRESS", ".EXTRASPACE", ".FAGE", ".FAIL", ".FAIRWINDS", ".FAITH", ".FAMILY", ".FAN", ".FANS",
    ".FARM", ".FARMERS", ".FASHION", ".FAST", ".FEDEX", ".FEEDBACK", ".FERRARI", ".FERRERO", ".FI", ".FIAT", ".FIDELITY", ".FIDO", ".FILM", ".FINAL",
    ".FINANCE", ".FINANCIAL", ".FIRE", ".FIRESTONE", ".FIRMDALE", ".FISH", ".FISHING", ".FIT", ".FITNESS", ".FJ", ".FK", ".FLICKR", ".FLIGHTS", ".FLIR",
    ".FLORIST", ".FLOWERS", ".FLY", ".FM", ".FO", ".FOO", ".FOOD", ".FOODNETWORK", ".FOOTBALL", ".FORD", ".FOREX", ".FORSALE", ".FORUM", ".FOUNDATION",
    ".FOX", ".FR", ".FREE", ".FRESENIUS", ".FRL", ".FROGANS", ".FRONTDOOR", ".FRONTIER", ".FTR", ".FUJITSU", ".FUJIXEROX", ".FUN", ".FUND", ".FURNITURE",
    ".FUTBOL", ".FYI", ".GA", ".GAL", ".GALLERY", ".GALLO", ".GALLUP", ".GAME", ".GAMES", ".GAP", ".GARDEN", ".GB", ".GBIZ", ".GD",
    ".GDN", ".GE", ".GEA", ".GENT", ".GENTING", ".GEORGE", ".GF", ".GG", ".GGEE", ".GH", ".GI", ".GIFT", ".GIFTS", ".GIVES",
    ".GIVING", ".GL", ".GLADE", ".GLASS", ".GLE", ".GLOBAL", ".GLOBO", ".GM", ".GMAIL", ".GMBH", ".GMO", ".GMX", ".GN", ".GODADDY",
    ".GOLD", ".GOLDPOINT", ".GOLF", ".GOO", ".GOODHANDS", ".GOODYEAR", ".GOOG", ".GOOGLE", ".GOP", ".GOT", ".GOV", ".GP", ".GQ", ".GR",
    ".GRAINGER", ".GRAPHICS", ".GRATIS", ".GREEN", ".GRIPE", ".GROUP", ".GS", ".GT", ".GU", ".GUARDIAN", ".GUCCI", ".GUGE", ".GUIDE", ".GUITARS",
    ".GURU", ".GW", ".GY", ".HAIR", ".HAMBURG", ".HANGOUT", ".HAUS", ".HBO", ".HDFC", ".HDFCBANK", ".HEALTH", ".HEALTHCARE", ".HELP", ".HELSINKI",
    ".HERE", ".HERMES", ".HGTV", ".HIPHOP", ".HISAMITSU", ".HITACHI", ".HIV", ".HK", ".HKT", ".HM", ".HN", ".HOCKEY", ".HOLDINGS", ".HOLIDAY",
    ".HOMEDEPOT", ".HOMEGOODS", ".HOMES", ".HOMESENSE", ".HONDA", ".HONEYWELL", ".HORSE", ".HOSPITAL", ".HOST", ".HOSTING", ".HOT", ".HOTELES", ".HOTMAIL", ".HOUSE",
    ".HOW", ".HR", ".HSBC", ".HT", ".HTC", ".HU", ".HUGHES", ".HYATT", ".HYUNDAI", ".IBM", ".ICBC", ".ICE", ".ICU", ".ID",
    ".IE", ".IEEE", ".IFM", ".IKANO", ".IL", ".IM", ".IMAMAT", ".IMDB", ".IMMO", ".IMMOBILIEN", ".IN", ".INDUSTRIES", ".INFINITI", ".INFO",
    ".ING", ".INK", ".INSTITUTE", ".INSURANCE", ".INSURE", ".INT", ".INTEL", ".INTERNATIONAL", ".INTUIT", ".INVESTMENTS", ".IO", ".IPIRANGA", ".IQ", ".IR",
    ".IRISH", ".IS", ".ISELECT", ".ISMAILI", ".IST", ".ISTANBUL", ".IT", ".ITAU", ".ITV", ".IVECO", ".IWC", ".JAGUAR", ".JAVA", ".JCB",
    ".JCP", ".JE", ".JEEP", ".JETZT", ".JEWELRY", ".JIO", ".JLC", ".JLL", ".JM", ".JMP", ".JNJ", ".JO", ".JOBS", ".JOBURG",
    ".JOT", ".JOY", ".JP", ".JPMORGAN", ".JPRS", ".JUEGOS", ".JUNIPER", ".KAUFEN", ".KDDI", ".KE", ".KERRYHOTELS", ".KERRYLOGISTICS", ".KERRYPROPERTIES", ".KFH",
    ".KG", ".KH", ".KI", ".KIA", ".KIM", ".KINDER", ".KINDLE", ".KITCHEN", ".KIWI", ".KM", ".KN", ".KOELN", ".KOMATSU", ".KOSHER",
    ".KP", ".KPMG", ".KPN", ".KR", ".KRD", ".KRED", ".KUOKGROUP", ".KW", ".KY", ".KYOTO", ".KZ", ".LA", ".LACAIXA", ".LADBROKES",
    ".LAMBORGHINI", ".LAMER", ".LANCASTER", ".LANCIA", ".LANCOME", ".LAND", ".LANDROVER", ".LANXESS", ".LASALLE", ".LAT", ".LATINO", ".LATROBE", ".LAW", ".LAWYER",
    ".LB", ".LC", ".LDS", ".LEASE", ".LECLERC", ".LEFRAK", ".LEGAL", ".LEGO", ".LEXUS", ".LGBT", ".LI", ".LIAISON", ".LIDL", ".LIFE",
    ".LIFEINSURANCE", ".LIFESTYLE", ".LIGHTING", ".LIKE", ".LILLY", ".LIMITED", ".LIMO", ".LINCOLN", ".LINDE", ".LINK", ".LIPSY", ".LIVE", ".LIVING", ".LIXIL",
    ".LK", ".LOAN", ".LOANS", ".LOCKER", ".LOCUS", ".LOFT", ".LOL", ".LONDON", ".LOTTE", ".LOTTO", ".LOVE", ".LPL", ".LPLFINANCIAL", ".LR",
    ".LS", ".LT", ".LTD", ".LTDA", ".LU", ".LUNDBECK", ".LUPIN", ".LUXE", ".LUXURY", ".LV", ".LY", ".MA", ".MACYS", ".MADRID",
    ".MAIF", ".MAISON", ".MAKEUP", ".MAN", ".MANAGEMENT", ".MANGO", ".MARKET", ".MARKETING", ".MARKETS", ".MARRIOTT", ".MARSHALLS", ".MASERATI", ".MATTEL", ".MBA",
    ".MC", ".MCD", ".MCDONALDS", ".MCKINSEY", ".MD", ".ME", ".MED", ".MEDIA", ".MEET", ".MELBOURNE", ".MEME", ".MEMORIAL", ".MEN", ".MENU",
    ".MEO", ".METLIFE", ".MG", ".MH", ".MIAMI", ".MICROSOFT", ".MIL", ".MINI", ".MINT", ".MIT", ".MITSUBISHI", ".MK", ".ML", ".MLB",
    ".MLS", ".MM", ".MMA", ".MN", ".MO", ".MOBI", ".MOBILE", ".MOBILY", ".MODA", ".MOE", ".MOI", ".MOM", ".MONASH", ".MONEY",
    ".MONSTER", ".MONTBLANC", ".MOPAR", ".MORMON", ".MORTGAGE", ".MOSCOW", ".MOTO", ".MOTORCYCLES", ".MOV", ".MOVIE", ".MOVISTAR", ".MP", ".MQ", ".MR",
    ".MS", ".MSD", ".MT", ".MTN", ".MTPC", ".MTR", ".MU", ".MUSEUM", ".MUTUAL", ".MV", ".MW", ".MX", ".MY", ".MZ",
    ".NA", ".NAB", ".NADEX", ".NAGOYA", ".NAME", ".NATIONWIDE", ".NATURA", ".NAVY", ".NBA", ".NC", ".NE", ".NEC", ".NET", ".NETBANK",
    ".NETFLIX", ".NETWORK", ".NEUSTAR", ".NEW", ".NEWHOLLAND", ".NEWS", ".NEXT", ".NEXTDIRECT", ".NEXUS", ".NF", ".NFL", ".NG", ".NGO", ".NHK",
    ".NI", ".NICO", ".NIKE", ".NIKON", ".NINJA", ".NISSAN", ".NISSAY", ".NL", ".NO", ".NOKIA", ".NORTHWESTERNMUTUAL", ".NORTON", ".NOW", ".NOWRUZ",
    ".NOWTV", ".NP", ".NR", ".NRA", ".NRW", ".NTT", ".NU", ".NYC", ".NZ", ".OBI", ".OBSERVER", ".OFF", ".OFFICE", ".OKINAWA",
    ".OLAYAN", ".OLAYANGROUP", ".OLDNAVY", ".OLLO", ".OM", ".OMEGA", ".ONE", ".ONG", ".ONL", ".ONLINE", ".ONYOURSIDE", ".OOO", ".OPEN", ".ORACLE",
    ".ORANGE", ".ORG", ".ORGANIC", ".ORIENTEXPRESS", ".ORIGINS", ".OSAKA", ".OTSUKA", ".OTT", ".OVH", ".PA", ".PAGE", ".PAMPEREDCHEF", ".PANASONIC", ".PANERAI",
    ".PARIS", ".PARS", ".PARTNERS", ".PARTS", ".PARTY", ".PASSAGENS", ".PAY", ".PCCW", ".PE", ".PET", ".PF", ".PFIZER", ".PG", ".PH",
    ".PHARMACY", ".PHILIPS", ".PHONE", ".PHOTO", ".PHOTOGRAPHY", ".PHOTOS", ".PHYSIO", ".PIAGET", ".PICS", ".PICTET", ".PICTURES", ".PID", ".PIN", ".PING",
    ".PINK", ".PIONEER", ".PIZZA", ".PK", ".PL", ".PLACE", ".PLAY", ".PLAYSTATION", ".PLUMBING", ".PLUS", ".PM", ".PN", ".PNC", ".POHL",
    ".POKER", ".POLITIE", ".PORN", ".POST", ".PR", ".PRAMERICA", ".PRAXI", ".PRESS", ".PRIME", ".PRO", ".PROD", ".PRODUCTIONS", ".PROF", ".PROGRESSIVE",
    ".PROMO", ".PROPERTIES", ".PROPERTY", ".PROTECTION", ".PRU", ".PRUDENTIAL", ".PS", ".PT", ".PUB", ".PW", ".PWC", ".PY", ".QA", ".QPON",
    ".QUEBEC", ".QUEST", ".QVC", ".RACING", ".RADIO", ".RAID", ".RE", ".READ", ".REALESTATE", ".REALTOR", ".REALTY", ".RECIPES", ".RED", ".REDSTONE",
    ".REDUMBRELLA", ".REHAB", ".REISE", ".REISEN", ".REIT", ".RELIANCE", ".REN", ".RENT", ".RENTALS", ".REPAIR", ".REPORT", ".REPUBLICAN", ".REST", ".RESTAURANT",
    ".REVIEW", ".REVIEWS", ".REXROTH", ".RICH", ".RICHARDLI", ".RICOH", ".RIGHTATHOME", ".RIL", ".RIO", ".RIP", ".RMIT", ".RO", ".ROCHER", ".ROCKS",
    ".RODEO", ".ROGERS", ".ROOM", ".RS", ".RSVP", ".RU", ".RUHR", ".RUN", ".RW", ".RWE", ".RYUKYU", ".SA", ".SAARLAND", ".SAFE",
    ".SAFETY", ".SAKURA", ".SALE", ".SALON", ".SAMSCLUB", ".SAMSUNG", ".SANDVIK", ".SANDVIKCOROMANT", ".SANOFI", ".SAP", ".SAPO", ".SARL", ".SAS", ".SAVE",
    ".SAXO", ".SB", ".SBI", ".SBS", ".SC", ".SCA", ".SCB", ".SCHAEFFLER", ".SCHMIDT", ".SCHOLARSHIPS", ".SCHOOL", ".SCHULE", ".SCHWARZ", ".SCIENCE",
    ".SCJOHNSON", ".SCOR", ".SCOT", ".SD", ".SE", ".SEAT", ".SECURE", ".SECURITY", ".SEEK", ".SELECT", ".SENER", ".SERVICES", ".SES", ".SEVEN",
    ".SEW", ".SEX", ".SEXY", ".SFR", ".SG", ".SH", ".SHANGRILA", ".SHARP", ".SHAW", ".SHELL", ".SHIA", ".SHIKSHA", ".SHOES", ".SHOP",
    ".SHOPPING", ".SHOUJI", ".SHOW", ".SHOWTIME", ".SHRIRAM", ".SI", ".SILK", ".SINA", ".SINGLES", ".SITE", ".SJ", ".SK", ".SKI", ".SKIN",
    ".SKY", ".SKYPE", ".SL", ".SLING", ".SM", ".SMART", ".SMILE", ".SN", ".SNCF", ".SO", ".SOCCER", ".SOCIAL", ".SOFTBANK", ".SOFTWARE",
    ".SOHU", ".SOLAR", ".SOLUTIONS", ".SONG", ".SONY", ".SOY", ".SPACE", ".SPIEGEL", ".SPOT", ".SPREADBETTING", ".SR", ".SRL", ".SRT", ".ST",
    ".STADA", ".STAPLES", ".STAR", ".STARHUB", ".STATEBANK", ".STATEFARM", ".STATOIL", ".STC", ".STCGROUP", ".STOCKHOLM", ".STORAGE", ".STORE", ".STREAM", ".STUDIO",
    ".STUDY", ".STYLE", ".SU", ".SUCKS", ".SUPPLIES", ".SUPPLY", ".SUPPORT", ".SURF", ".SURGERY", ".SUZUKI", ".SV", ".SWATCH", ".SWIFTCOVER", ".SWISS",
    ".SX", ".SY", ".SYDNEY", ".SYMANTEC", ".SYSTEMS", ".SZ", ".TAB", ".TAIPEI", ".TALK", ".TAOBAO", ".TARGET", ".TATAMOTORS", ".TATAR", ".TATTOO",
    ".TAX", ".TAXI", ".TC", ".TCI", ".TD", ".TDK", ".TEAM", ".TECH", ".TECHNOLOGY", ".TEL", ".TELECITY", ".TELEFONICA", ".TEMASEK", ".TENNIS",
    ".TEVA", ".TF", ".TG", ".TH", ".THD", ".THEATER", ".THEATRE", ".TIAA", ".TICKETS", ".TIENDA", ".TIFFANY", ".TIPS", ".TIRES", ".TIROL",
    ".TJ", ".TJMAXX", ".TJX", ".TK", ".TKMAXX", ".TL", ".TM", ".TMALL", ".TN", ".TO", ".TODAY", ".TOKYO", ".TOOLS", ".TOP",
    ".TORAY", ".TOSHIBA", ".TOTAL", ".TOURS", ".TOWN", ".TOYOTA", ".TOYS", ".TR", ".TRADE", ".TRADING", ".TRAINING", ".TRAVEL", ".TRAVELCHANNEL", ".TRAVELERS",
    ".TRAVELERSINSURANCE", ".TRUST", ".TRV", ".TT", ".TUBE", ".TUI", ".TUNES", ".TUSHU", ".TV", ".TVS", ".TW", ".TZ", ".UA", ".UBANK",
    ".UBS", ".UCONNECT", ".UG", ".UK", ".UNICOM", ".UNIVERSITY", ".UNO", ".UOL", ".UPS", ".US", ".UY", ".UZ", ".VA", ".VACATIONS",
    ".VANA", ".VANGUARD", ".VC", ".VE", ".VEGAS", ".VENTURES", ".VERISIGN", ".VERSICHERUNG", ".VET", ".VG", ".VI", ".VIAJES", ".VIDEO", ".VIG",
    ".VIKING", ".VILLAS", ".VIN", ".VIP", ".VIRGIN", ".VISA", ".VISION", ".VISTA", ".VISTAPRINT", ".VIVA", ".VIVO", ".VLAANDEREN", ".VN", ".VODKA",
    ".VOLKSWAGEN", ".VOLVO", ".VOTE", ".VOTING", ".VOTO", ".VOYAGE", ".VU", ".VUELOS", ".WALES", ".WALMART", ".WALTER", ".WANG", ".WANGGOU", ".WARMAN",
    ".WATCH", ".WATCHES", ".WEATHER", ".WEATHERCHANNEL", ".WEBCAM", ".WEBER", ".WEBSITE", ".WED", ".WEDDING", ".WEIBO", ".WEIR", ".WF", ".WHOSWHO", ".WIEN",
    ".WIKI", ".WILLIAMHILL", ".WIN", ".WINDOWS", ".WINE", ".WINNERS", ".WME", ".WOLTERSKLUWER", ".WOODSIDE", ".WORK", ".WORKS", ".WORLD", ".WOW", ".WS",
    ".WTC", ".WTF", ".XBOX", ".XEROX", ".XFINITY", ".XIHUAN", ".XIN", ".XN--11B4C3D", ".XN--1CK2E1B", ".XN--1QQW23A", ".XN--30RR7Y", ".XN--3BST00M", ".XN--3DS443G", ".XN--3E0B707E",
    ".XN--3OQ18VL8PN36A", ".XN--3PXU8K", ".XN--42C2D9A", ".XN--45BRJ9C", ".XN--45Q11C", ".XN--4GBRIM", ".XN--54B7FTA0CC", ".XN--55QW42G", ".XN--55QX5D", ".XN--5SU34J936BGSG", ".XN--5TZM5G", ".XN--6FRZ82G", ".XN--6QQ986B3XL", ".XN--80ADXHKS",
    ".XN--80AO21A", ".XN--80AQECDR1A", ".XN--80ASEHDB", ".XN--80ASWG", ".XN--8Y0A063A", ".XN--90A3AC", ".XN--90AE", ".XN--90AIS", ".XN--9DBQ2A", ".XN--9ET52U", ".XN--9KRT00A", ".XN--B4W605FERD", ".XN--BCK1B9A5DRE4C", ".XN--C1AVG",
    ".XN--C2BR7G", ".XN--CCK2B3B", ".XN--CG4BKI", ".XN--CLCHC0EA0B2G2A9GCD", ".XN--CZR694B", ".XN--CZRS0T", ".XN--CZRU2D", ".XN--D1ACJ3B", ".XN--D1ALF", ".XN--E1A4C", ".XN--ECKVDTC9D", ".XN--EFVY88H", ".XN--ESTV75G", ".XN--FCT429K",
    ".XN--FHBEI", ".XN--FIQ228C5HS", ".XN--FIQ64B", ".XN--FIQS8S", ".XN--FIQZ9S", ".XN--FJQ720A", ".XN--FLW351E", ".XN--FPCRJ9C3D", ".XN--FZC2C9E2C", ".XN--FZYS8D69UVGM", ".XN--G2XX48C", ".XN--GCKR3F0F", ".XN--GECRJ9C", ".XN--GK3AT1E",
    ".XN--H2BRJ9C", ".XN--HXT814E", ".XN--I1B6B1A6A2E", ".XN--IMR513N", ".XN--IO0A7I", ".XN--J1AEF", ".XN--J1AMH", ".XN--J6W193G", ".XN--JLQ61U9W7B", ".XN--JVR189M", ".XN--KCRX77D1X4A", ".XN--KPRW13D", ".XN--KPRY57D", ".XN--KPU716F",
    ".XN--KPUT3I", ".XN--L1ACC", ".XN--LGBBAT1AD8J", ".XN--MGB9AWBF", ".XN--MGBA3A3EJT", ".XN--MGBA3A4F16A", ".XN--MGBA7C0BBN0A", ".XN--MGBAAM7A8H", ".XN--MGBAB2BD", ".XN--MGBAI9AZGQP6J", ".XN--MGBAYH7GPA", ".XN--MGBB9FBPOB", ".XN--MGBBH1A71E", ".XN--MGBC0A9AZCG",
    ".XN--MGBCA7DZDO", ".XN--MGBERP4A5D4AR", ".XN--MGBI4ECEXP", ".XN--MGBPL2FH", ".XN--MGBT3DHD", ".XN--MGBTX2B", ".XN--MGBX4CD0AB", ".XN--MIX891F", ".XN--MK1BU44C", ".XN--MXTQ1M", ".XN--NGBC5AZD", ".XN--NGBE9E0A", ".XN--NODE", ".XN--NQV7F",
    ".XN--NQV7FS00EMA", ".XN--NYQY26A", ".XN--O3CW4H", ".XN--OGBPF8FL", ".XN--P1ACF", ".XN--P1AI", ".XN--PBT977C", ".XN--PGBS0DH", ".XN--PSSY2U", ".XN--Q9JYB4C", ".XN--QCKA1PMC", ".XN--QXAM", ".XN--RHQV96G", ".XN--ROVU88B",
    ".XN--S9BRJ9C", ".XN--SES554G", ".XN--T60B56A", ".XN--TCKWE", ".XN--TIQ49XQYJ", ".XN--UNUP4Y", ".XN--VERMGENSBERATER-CTB", ".XN--VERMGENSBERATUNG-PWB", ".XN--VHQUV", ".XN--VUQ861B", ".XN--W4R85EL8FHU5DNRA", ".XN--W4RS40L", ".XN--WGBH1C", ".XN--WGBL6A",
    ".XN--XHQ521B", ".XN--XKC2AL3HYE2A", ".XN--XKC2DL3A5EE0H", ".XN--Y9A3AQ", ".XN--YFRO4I67O", ".XN--YGBI2AMMX", ".XN--ZFR164B", ".XPERIA", ".XXX", ".XYZ", ".YACHTS", ".YAHOO", ".YAMAXUN", ".YANDEX",
    ".YE", ".YODOBASHI", ".YOGA", ".YOKOHAMA", ".YOU", ".YOUTUBE", ".YT", ".YUN", ".ZA", ".ZAPPOS", ".ZARA", ".ZERO", ".ZIP", ".ZIPPO",
    ".ZM", ".ZONE", ".ZUERICH", ".ZW")

  /** Typo generators (`extractors3/TypoGenerator.py:1-127`), minus the
    * WordNet synonym substitution (no corpus on disk — SURVEY.md §2.2 J4). */
  object TypoGenerator {
    private val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
    private val vowels = "aeiouy"

    def insertedKey(s: String): Seq[String] =
      for (i <- 0 until s.length; c <- alphabet)
        yield s.substring(0, i + 1) + c + s.substring(i + 1)

    def wrongKey(s: String): Seq[String] =
      for (i <- 0 until s.length; c <- alphabet)
        yield s.substring(0, i) + c + s.substring(i + 1)

    def skipLetter(s: String): Seq[String] =
      for (i <- 1 to s.length) yield s.substring(0, i - 1) + s.substring(i)

    /** Quirk mirrored: Python `s[:i] + s[i-1] + s[i:]` at i=0 prepends
      * the LAST character (`s[-1]`). */
    def doubleLetter(s: String): Seq[String] =
      for (i <- 0 to s.length if s.nonEmpty)
        yield s.substring(0, i) + s.charAt(java.lang.Math.floorMod(i - 1, s.length)) + s.substring(i)

    def reverseLetter(s: String): Seq[String] =
      for (i <- 1 until s.length)
        yield s.substring(0, i - 1) + s.charAt(i) + s.charAt(i - 1) + s.substring(i + 1)

    def wrongVowel(s: String): Seq[String] =
      for {
        i <- 0 until s.length
        _ <- vowels // reference's redundant outer loop (×6 duplicates)
        if vowels.indexOf(s.charAt(i)) >= 0
        v <- vowels
      } yield s.substring(0, i) + v + s.substring(i + 1)

    def allTypos(s: String): Seq[String] =
      insertedKey(s) ++ wrongKey(s) ++ skipLetter(s) ++ doubleLetter(s) ++
        reverseLetter(s) ++ wrongVowel(s)
  }

  /** All typos of all brands, precomputed once (driver-side constant,
    * broadcast-friendly — the reference regenerates per URL, :259-266). */
  lazy val brandTypos: Array[String] =
    brands.flatMap(b => TypoGenerator.allTypos(b)).toArray

  /** Set 3 — F49-F58, feature order = Python `dir()` (ASCII-sorted
    * method names, `extractors3/url_feature.py:7`). */
  val set3Features: Vector[(String, String => Double)] = Vector[(String, String => Double)](
    "get_brandname" -> (u => b(brands.exists(domain(u).contains(_)))),          // F50
    "get_dots" -> (u => dots(u).toDouble),                                      // F57
    "get_hexadecimal" -> (u => b(domain(u).indexOf('%') > -1)),                 // F52
    "get_ip_address" -> (u => b(isIp(u))),                                      // F53
    "get_long_url" -> (u => b(domain(u).length > 25)),                          // F55 (domain, not url)
    "get_misleading_subdomain" -> (u => b(brands.exists(domain(u).contains(_)))), // F56 (same test as F50, :276-280)
    "get_multiple_tld" -> { u =>                                                // F49
      val d = domain(u)
      b(tlds.count(d.contains(_)) > 1)
    },
    "get_path_domain_length" -> { u =>                                          // F58
      val p1 = u.indexOf("//") + 2
      val p2raw = u.indexOf('/', p1)
      val p2 = if (p2raw > 0) p2raw + 1 else u.length
      Py.sliceFrom(u, p2).length.toDouble
    },
    "get_special_words" -> (u => b(isSpecial(u))),                              // F51
    "get_typos" -> (u => {                                                      // F54
      val d = domain(u)
      b(brandTypos.exists(d.contains(_)))
    })
  ).sortBy(_._1)

  def set3(url: String): Vector[Double] = set3Features.map(_._2(url))
}
